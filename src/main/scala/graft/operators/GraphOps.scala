package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph operators for corpus curation. The motivating read: a
  * web-scale training corpus wants a per-domain AUTHORITY signal
  * (CommonCrawl-style curation weights pages by link centrality) next
  * to the per-document quality scores — [[pageRank]] provides it as a
  * bounded number of shuffle rounds over an edge table, the shape that
  * survives 100 TB (each round is one join + one partial-aggregated
  * groupBy on the edge list; no per-node iteration state beyond the
  * (node, rank) table).
  *
  * Arithmetic contract: the whole computation is INTEGER-EXACT —
  * ranks live in micro-units (scale = 1e6 = rank 1.0), per-edge
  * contributions are floor(rank/outdeg), damping is
  * floor(d100 * Σcontrib / 100) — so any engine that restates the
  * same floor-division recurrence reproduces every rank bit for bit
  * (the DuckDB oracle does, making the operator hash-checkable, vs
  * a double-precision PageRank whose partial-sum order would differ).
  * The floor divisions UNDERCOUNT vs real-valued PageRank by at most
  * outdeg micro-units per node per round — noise at scale 1e6, and
  * deterministic noise at that.
  *
  * Semantics: the simplified (no dangling-mass redistribution)
  * variant — a node with no out-edges absorbs rank; total mass decays
  * accordingly, exactly as in the original formulation without the
  * dangling fix. Node set = sources ∪ destinations.
  */
object GraphOps {

  /** `iters` rounds of integer PageRank over `edges(src, dst)`.
    * Returns (node, rank) with rank in micro-units of `scale`.
    * Duplicate edges count as parallel links (dedupe upstream if that
    * is not wanted). d100 is the damping factor in hundredths (85 =
    * the classic 0.85).
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, d100: Int = 85, scale: Long = 1000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, None, None, iters, d100, scale)

  /** Personalized (seeded) PageRank: the teleport mass lands ONLY on
    * the `seeds` node set — rank becomes proximity-to-the-seeds, the
    * trusted-domain expansion primitive of web-corpus curation
    * (seed = allowlisted hosts; high-PPR unlisted hosts are the
    * candidates to admit next). Same integer-exact recurrence as
    * [[pageRank]] with the base term gated on seed membership and the
    * initial mass placed on the seeds, so the oracle restatement is
    * the plain-PR SQL with one extra LEFT JOIN per round. `seeds`
    * must have a single node-id column (any name, cast to long);
    * non-seed nodes start at 0 and earn rank only via in-links.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, iters: Int, d100: Int = 85,
      scale: Long = 1000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, None, Some(seeds), iters, d100,
      scale)

  /** Weighted PageRank: each out-edge carries a positive INTEGER
    * weight (link multiplicity, click volume, co-occurrence count)
    * and a node's rank splits proportionally —
    * contribution(u→v) = floor(rank(u)·w(u,v) / Σ_out w(u,·)) — the
    * curation-grade variant when edges are aggregated interaction
    * counts rather than single links. Rows with NULL or non-positive
    * weight are dropped (a zero-weight link carries no mass). Still
    * integer-exact: the weighted split is one multiply + floor
    * divide, so the oracle restates it verbatim. Overflow headroom:
    * rank·w must stay under 2^63 — at the default scale, safe while
    * max rank · max weight < 9.2×10^18 (e.g. ranks ≤ 10^12 with
    * weights ≤ 10^6); rescale `scale` down for heavier graphs.
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iters: Int, d100: Int = 85,
      scale: Long = 1000000L): DataFrame =
    pageRankCore(edges, srcCol, dstCol, Some(weightCol), None, iters,
      d100, scale)

  private def pageRankCore(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: Option[String],
      seeds: Option[DataFrame], iters: Int, d100: Int,
      scale: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1, 50], got $iters")
    require(d100 >= 0 && d100 <= 100, s"d100 in [0, 100], got $d100")
    // persist the loop invariants ONCE — without this, every round's
    // composed plan re-derives e/nodes/deg from the source scan and
    // the edge table is re-read O(iters) times. Unweighted graphs
    // ride the same path with w = 1 (rank·1 div Σ1 ≡ rank div count).
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      weightCol.map(c => col(c).cast("long")).getOrElse(lit(1L))
        .as("w"))
    val e = (weightCol match {
        case Some(_) => e0.where(col("w").isNotNull && col("w") > 0)
        case None => e0
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // node set AND weighted out-degree in ONE shuffle: explode each
    // edge into (src, w) + (dst, 0) and sum — sinks surface with
    // outdeg 0, sources with their Σw, and no separate union-distinct
    // pass over the edge list is needed. At web scale this drops a
    // whole edge-cardinality shuffle from the setup.
    val nodeDeg = e.select(explode(array(
        struct(col("src").as("node"), col("w")),
        struct(col("dst").as("node"), lit(0L).as("w")))).as("nw"))
      .groupBy(col("nw.node").as("node"))
      .agg(sum(col("nw.w")).as("outdeg"))
    // seed membership is a per-node flag joined once up front (seed
    // sets are tiny vs the graph — a broadcast-ready dim); the loop
    // below then reads it as a column, never re-joining per round
    val nodes = (seeds match {
      case None => nodeDeg.withColumn("seed", lit(true))
      case Some(sd) =>
        val sc = sd.columns.head
        val s = sd.select(col(sc).cast("long").as("node")).distinct()
          .withColumn("seed", lit(true))
        nodeDeg.join(broadcast(s), Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            coalesce(col("seed"), lit(false)).as("seed"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = scale * (100L - d100) / 100L
    // Lineage truncation is ADAPTIVE (the round-12 rework of the old
    // eager-every-round localCheckpoint, which paid a blocking
    // materialization + row-copy + cache write + a codegen-fusion
    // break per round and dominated the runtime at small scale): the
    // rank recurrence references the previous round's ranks exactly
    // ONCE, so the composed logical plan grows LINEARLY with iters —
    // unlike kCore's 5-refs-per-round blowup — and a handful of
    // rounds compose safely into one plan that Catalyst optimizes and
    // executes as a single job. Every `truncateEvery` rounds a
    // NON-EAGER localCheckpoint truncates the plan to a LogicalRDD
    // (bounding analyzer/optimizer cost for large iters) without a
    // job barrier; only the FINAL round is eager, so the loop
    // invariants can be unpersisted below without forcing a
    // recompute. On a cluster with executor-loss concerns, set a
    // checkpoint dir and swap for checkpoint() — same shape.
    // the loop state carries (node, outdeg, seed, rank): outdeg and
    // seed are invariants FOLDED INTO the state row, so each round is
    // ONE edge⋈state join + ONE partial-aggregated groupBy + ONE
    // node-cardinality left join — the old per-round deg join (a
    // second node-cardinality join every round, a real cost at
    // billions of nodes) is gone
    val truncateEvery = 8
    var state = nodes
      .select(col("node"), col("outdeg"), col("seed"),
        when(col("seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    var i = 0
    while (i < iters) {
      val contribs = e
        .join(state.select(col("node").as("src"), col("rank"),
          col("outdeg")), "src")
        // TRUE integral division (`div`), never double `/`: a double
        // quotient can round across an integer boundary and break the
        // bit-exact recurrence the oracle restates (outdeg ≥ w > 0
        // for every node that appears as a src, so no div-by-zero)
        .select(col("dst").as("node"),
          expr("(rank * w) div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("s"))
      val next = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("seed"),
          (when(col("seed"), lit(base)).otherwise(lit(0L)) +
            expr(s"($d100 * coalesce(s, 0L)) div 100"))
            .as("rank"))
      state =
        if (i == iters - 1) next.localCheckpoint(true)
        else if ((i + 1) % truncateEvery == 0) next.localCheckpoint(false)
        else next
      i += 1
    }
    val ranks = state.select(col("node"), col("rank"))
    // the final state is checkpoint-materialized: lineage no longer
    // references the loop invariants, so their blocks can go
    e.unpersist(); nodes.unpersist()
    ranks
  }

  /** Exact triangle census via degree-ordered orientation (the
    * node-iterator bound of Schank/Wagner; same orientation MapReduce
    * triangle counting uses at web scale). Input edges are read as
    * UNDIRECTED: canonicalized to (min, max), de-duplicated, self
    * loops dropped. Every undirected edge is then ORIENTED from its
    * (degree, id)-smaller endpoint to the larger, which caps any
    * node's oriented out-degree at O(√m) — wedge generation (the
    * quadratic step of triangle counting) becomes O(m^{3/2}) total
    * and, crucially for 100 TB, per-task bounded: a 10^7-degree hub
    * contributes wedges only through its √m-bounded oriented
    * out-list, so no task materializes deg² pairs. The plan is three
    * shuffles: orient (join deg twice), wedge (self-join on u),
    * close (join wedges against the oriented set on (v, w)); every
    * quantity is integral, so the census is hash-exact.
    *
    * Returns (node, tri, deg, lcc_ppm): per-node triangle count,
    * undirected degree, and the local clustering coefficient in
    * parts-per-million as floor(2·tri·10^6 / (deg·(deg−1)))
    * (0 when deg < 2) — the curation-facing signal (link-farm pages
    * show implausibly high LCC at high degree).
    *
    * Memory bound past the broadcast gate: both joins are shuffled
    * hash joins built on the oriented edge set, and a shuffled-hash
    * build side cannot spill. Each task holds its partition of the m
    * oriented edges as a hash relation of about 64 B × m / P, where P
    * is the shuffle partition count left after AQE coalescing (which
    * packs partitions up to `spark.sql.adaptive.advisoryPartitionSizeInBytes`
    * of shuffled edges). The bound assumes the join keys spread evenly
    * over those partitions: the wedge join's key u carries at most its
    * oriented out-degree, √(2m) edges, and the closing join's key
    * (v, w) is unique per edge, so no single key breaks it; only a
    * partitioner that lands many heavy keys on one task does.
    */
  def triangles(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist the canonical edge set: it feeds deg (two passes) and
    // the orientation join — without the cache the CALLER'S edge
    // derivation (often itself a join, e.g. the co-purchase self-join)
    // re-executes once per consumer
    val und = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .persist(MEMORY_AND_DISK)
    // edge count read off the cache just materialized — it gates the
    // broadcast pin below AND is the natural scale switch
    val m = und.count()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .persist(MEMORY_AND_DISK)
    // total order for orientation: (deg, node) lexicographic — struct
    // comparison keeps it one codegen'd predicate, no composite key
    val joined = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // oriented edge u → v carries dv (v's degree): the wedge join
    // below orders the two far endpoints by the SAME total order, so
    // the closing edge's orientation is known to be v → w
    val oriented = joined.select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("v"),
        when(aFirst, col("db")).otherwise(col("da")).as("dv"))
      .persist(MEMORY_AND_DISK)
    // PIN the build-side broadcast when the edge set is modestly
    // sized: the wedge pipeline is then ONE map stage (cached scan →
    // self-BHJ → close-BHJ → explode → partial agg) and the O(m^{3/2})
    // wedge set streams through without ever hitting a sort or a
    // shuffle — leaving the choice to AQE let a memory-pressured rep
    // flip to sort-merge and SORT all the wedges (the 100 s mode the
    // r11 bench caught). The gate is BYTES, not rows: a forced
    // broadcast() bypasses autoBroadcastJoinThreshold, so estimate
    // the hashed-relation footprint (3 longs/row in UnsafeRow plus
    // LongHashedRelation overhead ≈ 64 B/row) against
    // spark.graft.triangles.broadcastMaxBytes (default 128 MB ≈ the
    // old 2M-row cap). Past the cap — where a broadcast would OOM a
    // default-memory executor anyway — the hint is withheld and the
    // joins shuffle on their keys: the 100 TB path.
    val maxBroadcastBytes = edges.sparkSession.conf
      .getOption("spark.graft.triangles.broadcastMaxBytes")
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    val estOrientedBytes = m * 64L
    val pinBroadcast = estOrientedBytes <= maxBroadcastBytes
    // Past the gate, hint SHUFFLE_HASH on the edge-set side of both
    // joins: sort-merge would SORT the O(m^{3/2}) wedge stream (and
    // the edge set, twice) — measured at sf1 (12M und edges) as
    // 16.1 GiB memory spill + 4.9 GiB disk spill on a 4.5 GiB
    // shuffle. A shuffled-hash join builds its per-partition hash
    // from the EDGE set (m rows, the provably smaller side — wedges
    // are a superset of edge pairs) and streams the wedges through
    // unsorted. Build-side memory is m·~64 B / shuffle partitions;
    // partitions scale with the cluster (spark.sql.shuffle.partitions
    // / AQE advisory), so the per-task build stays bounded where a
    // global wedge sort would not.
    val e1 = oriented.as("e1")
    val e2raw = oriented.as("e2")
    val e2 = if (pinBroadcast) broadcast(e2raw)
      else e2raw.hint("shuffle_hash")
    val wedges = e1.join(e2,
        col("e1.u") === col("e2.u") &&
        (struct(col("e1.dv"), col("e1.v")) <
          struct(col("e2.dv"), col("e2.v"))))
      .select(col("e1.u").as("u"), col("e1.v").as("v"),
        col("e2.v").as("w"))
    val closeRaw = oriented.select(col("u").as("v"), col("v").as("w"))
    val close = if (pinBroadcast) broadcast(closeRaw)
      else closeRaw.hint("shuffle_hash")
    val triRows = wedges.join(close, Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = triRows
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("tri"), lit(0L)).as("tri"),
        col("deg"),
        when(col("deg") >= 2,
          expr("(2 * coalesce(tri, 0L) * 1000000) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_ppm"))
    // materialize before dropping the caches (out's lineage references
    // them); LCC output is node-cardinality, far below the edge set,
    // so the localCheckpoint is cheap
    val ck = out.localCheckpoint(true)
    oriented.unpersist(); deg.unpersist(); und.unpersist()
    ck
  }

  /** HITS hubs-and-authorities, integer-exact. Each round computes
    * auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} auth(v), each
    * renormalized to `scale` micro-units by floor(x·scale / max(x))
    * — max-normalization instead of the classical L2 so the whole
    * recurrence stays in BIGINT and any engine restating it matches
    * bit for bit (the ranking HITS exists for is unchanged; only the
    * normalizing constant differs). The per-round max is a one-row
    * aggregate broadcast into the scaling projection — no extra
    * shuffle of the big side. Same persist + localCheckpoint loop
    * discipline as [[pageRank]].
    *
    * Returns (node, hub, auth) over all nodes, 0-filled where a node
    * has no out-(resp. in-)edges. Overflow headroom: Σ hub over an
    * in-neighborhood ≤ indeg·scale, and the ·scale renormalization
    * multiply needs indeg·scale² < 2^63 — at the default scale=10^6
    * that holds to ~9×10^6 in-degree; drop `scale` for denser graphs.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1, 50], got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // HITS is the one loop that NEEDS eager per-round checkpoints:
    // authRaw/hubRaw are each consumed TWICE per round (the one-row
    // max broadcast AND the scaling join), so composing rounds into
    // one plan re-executes the whole recursive subtree once per
    // consumer — a 2^(2·iters) blowup, measured 4× slower at sf0.1
    // than materializing each half-round. The checkpoint makes the
    // double-read a cache read instead.
    var hub = nodes.withColumn("hub", lit(scale)).localCheckpoint(true)
    var auth: DataFrame = nodes.withColumn("auth", lit(0L))
    var i = 0
    while (i < iters) {
      val authRaw = e
        .join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("x"))
      val authMax = authRaw.agg(max(col("x")).as("mx"))
      auth = nodes.join(authRaw, Seq("node"), "left")
        .crossJoin(broadcast(authMax))
        .select(col("node"),
          expr(s"(coalesce(x, 0L) * $scale) div greatest(mx, 1L)")
            .as("auth"))
        .localCheckpoint(true)
      val hubRaw = e
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("x"))
      val hubMax = hubRaw.agg(max(col("x")).as("mx"))
      hub = nodes.join(hubRaw, Seq("node"), "left")
        .crossJoin(broadcast(hubMax))
        .select(col("node"),
          expr(s"(coalesce(x, 0L) * $scale) div greatest(mx, 1L)")
            .as("hub"))
        .localCheckpoint(true)
      i += 1
    }
    val out = hub.join(auth, Seq("node")).localCheckpoint(true)
    e.unpersist(); nodes.unpersist()
    out
  }

  /** Iterative k-core peeling over the UNDIRECTED graph: `rounds`
    * rounds of "drop every node whose current degree is below k, then
    * recount" — run to convergence this yields the classic k-core,
    * the dense-subgraph signal link-farm detection reads (organic
    * pages fall out of high-k cores; mutually-linking spam clusters
    * survive). Fixed `rounds` keeps the operator oracle-restatable
    * (each round is one degree-count + two semi-joins, unrolled in
    * SQL) and bounds the driver loop; rounds ~ graph diameter
    * converges in practice. Same canonicalization as [[triangles]]
    * (min/max, dedup, self-loops dropped) and the same persist-free
    * localCheckpoint loop discipline as [[pageRank]]: the edge set
    * SHRINKS monotonically, so each round's checkpoint is smaller
    * than the last.
    *
    * Returns (node, deg): survivors of the last peel with their
    * residual degree (degree within the surviving subgraph; nodes
    * whose degree fell below k in the FINAL recount are reported —
    * they peel in round rounds+1).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50,
      s"rounds in [1, 50], got $rounds")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // EAGER checkpoints here, deliberately (unlike [[pageRank]]'s
    // composed rounds): each round consumes e THREE times — the degree
    // count plus both semi-joins — through stages the scheduler may
    // run concurrently, so a lazily-cached e risks being computed once
    // per consumer before the cache lands; and the peel recurrence
    // references e multiple times per round, so an un-truncated plan
    // grows exponentially with rounds. The eager materialization also
    // pays off in data: the edge set SHRINKS monotonically, so each
    // round's checkpoint is smaller than the last.
    var e = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .localCheckpoint(true)
    var i = 0
    while (i < rounds) {
      val keep = degrees(e).where(col("deg") >= k).select(col("node"))
      e = e
        .join(keep.withColumnRenamed("node", "a"), "a")
        .join(keep.withColumnRenamed("node", "b"), "b")
        .select(col("a"), col("b"))
        .localCheckpoint(true)
      i += 1
    }
    degrees(e)
  }

  /** Synchronous label propagation (Raghavan et al.) made
    * DETERMINISTIC: every node starts as its own community (label =
    * node id); each round a node adopts the label most frequent among
    * its neighbors, ties broken by the SMALLEST label — so there is
    * no random tie-walk and any engine restating the vote matches
    * exactly. Edges are read undirected (symmetric closure + dedup +
    * self-loop drop). Fixed `iters` (community structure emerges in a
    * few rounds; run longer for finer convergence) keeps the unrolled
    * oracle restatement finite and the loop driver-bounded, with the
    * usual persist + localCheckpoint discipline.
    *
    * Per round: one join (edge × labels) + one (node, label) count +
    * one argmax partial-agg — the vote is max(struct(cnt, -label)),
    * so "most frequent, then smallest" rides a single aggregate, no
    * per-node sort. Returns (node, label).
    */
  def labelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters in [1, 50], got $iters")
    val e0 = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
    val e = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // symmetric closure ⇒ every endpoint appears as `a`
    val nodes = e.select(col("a").as("node")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // adaptive truncation (see [[pageRank]]): each round references
    // the previous labels exactly once, so the composed plan grows
    // linearly — compose rounds into one plan, truncate non-eagerly
    // every few rounds, eager only on the final round so the
    // persisted invariants can go
    val truncateEvery = 8
    var labels = nodes.withColumn("label", col("node"))
    var i = 0
    while (i < iters) {
      val votes = e
        .join(labels.withColumnRenamed("node", "a"), "a")
        .groupBy(col("b").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = votes.groupBy(col("node"))
        .agg(max(struct(col("cnt"), negate(col("label")).as("nl")))
          .as("m"))
        .select(col("node"), negate(col("m.nl")).as("label"))
      val next = nodes.join(best, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("label"), col("node")).as("label"))
      labels =
        if (i == iters - 1) next.localCheckpoint(true)
        else if ((i + 1) % truncateEvery == 0) next.localCheckpoint(false)
        else next
      i += 1
    }
    e.unpersist(); nodes.unpersist()
    labels
  }

  /** Newman modularity of a node partition, in integer ppm — the
    * standard "is this community structure real" score for grading a
    * [[labelPropagation]] (or any) partition before acting on it
    * (spam-cluster calls, domain grouping). Q = Σ_c [e_c/m −
    * (d_c/2m)²] over communities c, with e_c = intra-community edge
    * count, d_c = summed degree, m = |undirected edges|. Emitted as
    * ONE row (m, q_ppm) with q_ppm = (10^6·(4·m·Σe_c − Σd_c²)) div
    * (4m²) — a single fraction on a common denominator, so the whole
    * score is BIGINT-exact and any engine restates it bit for bit.
    * The one-fraction numerator 10^6·(4·m·Σe_c − Σd_c²) only fits in
    * BIGINT to m ≈ 1.5×10^6, so the final scalar division runs in
    * BigInt on the driver — three aggregate Longs in, one exact Long
    * out, identical to BIGINT math wherever BIGINT doesn't overflow
    * and still correct past it. Edges are read
    * undirected ((min,max) canonicalization, self-loops dropped);
    * nodes missing from `labels` form singleton communities (their
    * e_c = 0 rides through the d² term only). Three aggregate passes
    * over the edge set, no iteration, no driver state beyond the
    * one-row result.
    *
    * @param labels (node, label) partition, e.g. labelPropagation's
    *   output
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String = "node",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull)
      .distinct()
      .persist(MEMORY_AND_DISK)
    val lab = labels.select(col(nodeCol).cast("long").as("node"),
      col(labelCol).cast("long").as("label"))
    // label each endpoint once; a node outside `labels` keeps itself
    // as a singleton community label
    val la = und.join(lab.select(col("node").as("a"),
        col("label").as("la")), Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("label").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("la"),
        coalesce(col("lb"), col("b")).as("lb"))
      .persist(MEMORY_AND_DISK)
    val m = la.count()
    // Σe_c: edges whose endpoints share a community
    val intra = if (m == 0L) 0L else la.where(col("la") === col("lb")).count()
    // Σd_c²: degree mass per community, squared and summed — degree
    // from the labeled edge list itself (each edge adds 1 to both
    // endpoints' communities). sum() over zero rows is NULL, so the
    // aggregate is coalesced AND the whole job is skipped when the
    // canonical edge set came out empty (all self-loops/nulls).
    val dsq =
      if (m == 0L) 0L
      else la.select(explode(array(col("la"), col("lb"))).as("c"))
        .groupBy(col("c")).agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("d * d")), lit(0L)).as("s"))
        .collect()(0).getLong(0)
    und.unpersist(); la.unpersist()
    val spark = edges.sparkSession
    import spark.implicits._
    // scalar arithmetic on the three aggregate results, in BigInt so
    // the 10^6·4·m·Σe_c numerator can't wrap past m ≈ 1.5e6 edges;
    // BigInt `/` truncates toward zero exactly like Long `/`, Spark
    // `div` and DuckDB `//`, and |Q| ≤ 1 so the quotient fits a Long
    val qppm =
      if (m == 0L) 0L
      else ((BigInt(1000000L) * (BigInt(4L) * m * intra - dsq)) /
        (BigInt(4L) * m * m)).toLong
    Seq((m, intra, qppm)).toDF("m", "intra", "q_ppm")
  }

  /** Minimum hop distance from a seed set, unrolled to `hops` rounds —
    * BFS levels as bounded shuffle rounds ("how far is every page from
    * the trusted frontier", the crawl-depth / trust-propagation
    * companion to [[personalizedPageRank]]'s continuous score). Edges
    * are followed DIRECTED src→dst (symmetrize upstream for
    * undirected reach). Returns (node, hop) for every node reached
    * within `hops` (seeds at hop 0); unreached nodes are absent.
    * Each round: one frontier⋈edges join + one min-agg — frontier
    * cardinality only ever grows toward node cardinality, and the
    * reached set is checkpointed per round with the same adaptive
    * discipline as [[pageRank]] (reached is referenced twice per
    * round — union + anti-join — so rounds materialize eagerly, like
    * [[hits]]; the sets SHRINK the work per round as the frontier
    * saturates).
    */
  def khopReach(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, hops: Int): DataFrame = {
    require(hops >= 0 && hops <= 50, s"hops in [0, 50], got $hops")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(MEMORY_AND_DISK)
    val sc = seeds.columns.head
    var reached = seeds.select(col(sc).cast("long").as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("hop", lit(0))
      .localCheckpoint(true)
    var frontier = reached
    var h = 1
    while (h <= hops) {
      val next = e.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(reached.select(col("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
        .localCheckpoint(true)
      reached = reached.union(next).localCheckpoint(true)
      frontier = next
      h += 1
    }
    e.unpersist()
    reached
  }

  /** Degree statistics of `edges(src, dst)`: per-node out/in degree —
    * the cheap first-pass graph profile (hubs to cap, sinks to flag)
    * before anything iterative runs.
    */
  def degreeStats(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("indeg"))
    out.join(in, Seq("node"), "full")
      .na.fill(0L, Seq("outdeg", "indeg"))
  }
}
