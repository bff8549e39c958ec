package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSuite {
  import spark.implicits._

  // A -> B, A -> C, B -> C, C -> A (1=A, 2=B, 3=C)
  private lazy val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    .toDF("src", "dst")

  private def ranksOf(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("one integer PageRank round matches the hand recurrence") {
    // scale 1e6, d=0.85, base = 150000; all start at 1000000
    // contribs: A sends 500000 to B and C; B sends 1000000 to C;
    // C sends 1000000 to A
    // r(A) = 150000 + 85*1000000 div 100 = 1000000
    // r(B) = 150000 + 85*500000  div 100 =  575000
    // r(C) = 150000 + 85*1500000 div 100 = 1425000
    val r1 = ranksOf(GraphOps.pageRank(tri, "src", "dst", iters = 1))
    assert(r1 == Map(1L -> 1000000L, 2L -> 575000L, 3L -> 1425000L))
  }

  test("two rounds stay integer-exact (floor divisions included)") {
    // round 2 from (1000000, 575000, 1425000):
    // A: 150000 + 85*1425000 div 100 = 1361250
    // B: 150000 + 85*(1000000 div 2) div 100 = 575000
    // C: 150000 + 85*(500000 + 575000) div 100 = 1063750
    val r2 = ranksOf(GraphOps.pageRank(tri, "src", "dst", iters = 2))
    assert(r2 == Map(1L -> 1361250L, 2L -> 575000L, 3L -> 1063750L))
  }

  test("a dangling node absorbs rank (simplified variant, documented) " +
      "and a source-only node keeps the base term") {
    // 1 -> 2 only: 2 has no out-edges (dangling), 1 receives nothing
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val r = ranksOf(GraphOps.pageRank(e, "src", "dst", iters = 2))
    // round 1: r(1) = 150000 + 0 = 150000; r(2) = 150000 + 850000
    // round 2: r(1) = 150000; r(2) = 150000 + 85*150000 div 100
    assert(r == Map(1L -> 150000L, 2L -> (150000L + 127500L)))
  }

  test("degreeStats profiles hubs and sinks with full-outer fill") {
    val d = GraphOps.degreeStats(tri, "src", "dst")
      .orderBy($"node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(d.toSeq == Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 1L, 2L)))
  }

  test("triangles counts the census and LCC on a known graph, " +
      "collapsing duplicate/reversed/self edges") {
    // undirected {1-2, 1-3, 2-3, 3-4} with noise: reversed duplicate
    // (2,1), a repeat (1,3), and a self loop (4,4)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (2L, 1L), (1L, 3L), (4L, 4L)).toDF("src", "dst")
    val r = GraphOps.triangles(e, "src", "dst")
      .orderBy($"node").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // one triangle {1,2,3}; deg = 2,2,3,1; LCC ppm = 2*tri*1e6/(d(d-1))
    assert(r.toSeq == Seq(
      (1L, 1L, 2L, 1000000L), (2L, 1L, 2L, 1000000L),
      (3L, 1L, 3L, 333333L), (4L, 0L, 1L, 0L)))
  }

  test("triangles on a triangle-free (bipartite) graph is all zero") {
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L))
      .toDF("src", "dst")
    val r = GraphOps.triangles(e, "src", "dst")
    assert(r.agg(sum($"tri")).collect()(0).getLong(0) == 0L)
    assert(r.count() == 4L)
  }

  test("one HITS round matches the hand recurrence (max-normalized)") {
    // 1→3, 2→3, 2→4; round 1:
    // auth raw: 3 = 2e6, 4 = 1e6; max 2e6 → auth 3 = 1e6, 4 = 5e5
    // hub raw: 1 = 1e6, 2 = 1.5e6; max → hub 1 = 666666, 2 = 1e6
    val e = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r = GraphOps.hits(e, "src", "dst", iters = 1)
      .orderBy($"node").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq((1L, 666666L, 0L), (2L, 1000000L, 0L),
      (3L, 0L, 1000000L), (4L, 0L, 500000L)))
  }

  test("personalized PageRank gates base mass on the seed set") {
    // 1 → 2, seeds = {1}:
    // r0: 1=1e6, 2=0; round 1: 1 = 150000, 2 = 0 + 850000
    // round 2: 1 = 150000, 2 = 0 + 85*150000 div 100 = 127500
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = ranksOf(
      GraphOps.personalizedPageRank(e, "src", "dst", seeds, iters = 2))
    assert(r == Map(1L -> 150000L, 2L -> 127500L))
  }

  test("seeds outside the graph's node set are ignored") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val r = GraphOps.personalizedPageRank(e, "src", "dst", seeds,
      iters = 1)
    assert(r.count() == 2L)
    assert(ranksOf(r) == Map(1L -> 150000L, 2L -> 850000L))
  }

  test("kCore peels low-degree fringe and keeps the dense core") {
    // K4 on {1,2,3,4} plus a pendant chain 4-5, 5-6: at k=3 the
    // chain peels (deg(6)=1, deg(5)=2), then 4 still has deg 3 in
    // the K4. Round 1 drops 5 and 6; stable after.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r = GraphOps.kCore(e, "src", "dst", k = 3, rounds = 2)
      .orderBy($"node").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("kCore with k above the max degree empties the graph") {
    val r = GraphOps.kCore(tri, "src", "dst", k = 10, rounds = 1)
    assert(r.count() == 0L)
  }

  test("weighted PageRank splits rank proportionally to edge weight") {
    // 1 → 2 (w=3), 1 → 3 (w=1): Σw = 4
    // round 1: c(2) = (1e6*3) div 4 = 750000; c(3) = 250000
    // r(2) = 150000 + 85*750000 div 100 = 787500
    // r(3) = 150000 + 85*250000 div 100 = 362500; r(1) = 150000
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = ranksOf(GraphOps.pageRankWeighted(e, "src", "dst", "w",
      iters = 1))
    assert(r == Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L))
  }

  test("weighted PageRank drops non-positive and null weights") {
    val e = Seq((1L, 2L, 1L), (1L, 3L, 0L), (1L, 4L, -5L))
      .toDF("src", "dst", "w")
    val r = GraphOps.pageRankWeighted(e, "src", "dst", "w", iters = 1)
    // only 1 → 2 survives: nodes {1, 2}
    assert(ranksOf(r) == Map(1L -> 150000L, 2L -> 1000000L))
  }

  test("uniform weights reproduce the unweighted recurrence") {
    val w = tri.withColumn("w", lit(7L))
    val a = ranksOf(GraphOps.pageRank(tri, "src", "dst", iters = 2))
    val b = ranksOf(GraphOps.pageRankWeighted(w, "src", "dst", "w",
      iters = 2))
    assert(a == b)
  }

  test("label propagation votes most-frequent-then-smallest and " +
      "absorbs a pendant into the triangle community") {
    // triangle {1,2,3} + pendant 4 on 3; after 2 rounds everyone
    // lands on label 1 (hand-traced min-tie votes)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val r = GraphOps.labelPropagation(e, "src", "dst", iters = 2)
      .orderBy($"node").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)))
  }

  test("label propagation round 1 on a path ties to the smaller " +
      "neighbor label") {
    // 1-2-3: node 2 sees {1, 3} once each → smallest label 1 wins
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = GraphOps.labelPropagation(e, "src", "dst", iters = 1)
      .orderBy($"node").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 2L)))
  }

  test("kCore guards") {
    intercept[IllegalArgumentException] {
      GraphOps.kCore(tri, "src", "dst", k = 0, rounds = 1)
    }
    intercept[IllegalArgumentException] {
      GraphOps.kCore(tri, "src", "dst", k = 2, rounds = 0)
    }
  }

  test("parameter guards") {
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(tri, "src", "dst", iters = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(tri, "src", "dst", iters = 3, d100 = 101)
    }
  }

  test("triangles at broadcast-guard scale never sort-merges the " +
      "wedge pipeline (pins the fix for the r11 100 s mode)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, SortMergeJoinExec}
    // walk ONLY the executed (final) tree: AQE wrappers expand to
    // their final plan (the Initial Plan section, which legitimately
    // contains SortMergeJoin before conversion, is never visited),
    // query stages to their contained plan, cache scans to the cached
    // plan — so the traversal covers the wedge pipeline even though
    // it sits inside persisted InMemoryRelations
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: expanded.flatMap(allNodes)
    }
    // the wedge pipeline executes inside triangles' internal
    // localCheckpoint action (the returned frame's plan is just the
    // checkpoint scan), so a QueryExecutionListener is the only
    // capture point — but the census is scoped to the query
    // executions that actually bind the `dv` orientation column, so
    // an unrelated query on the shared session can never flake the
    // no-SortMergeJoin assertion (the r13 advisor's ask); polling
    // remains only for the async listener bus
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val edges = spark.range(0, 4000).selectExpr(
        "pmod(xxhash64(id), 500) AS a",
        "pmod(xxhash64(id * 31 + 7), 500) AS b")
      GraphOps.triangles(edges, "a", "b").collect()
      import scala.jdk.CollectionConverters._
      def refsDv(n: SparkPlan): Boolean =
        n.expressions.exists(_.references.exists(_.name == "dv"))
      // only the triangles-internal executions: those whose final
      // tree binds the orientation column
      def triNodes: Seq[SparkPlan] = captured.asScala.toSeq
        .map(qe => allNodes(qe.executedPlan))
        .filter(_.exists(refsDv))
        .flatten
      def wedgeBhj: Seq[SparkPlan] = triNodes.collect {
        case b: BroadcastHashJoinExec if refsDv(b) => b
      }
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline && wedgeBhj.isEmpty)
        Thread.sleep(100)
      assert(wedgeBhj.nonEmpty,
        "no broadcast wedge join captured during the census")
      val smj = triNodes.collect { case s: SortMergeJoinExec => s }
      assert(smj.isEmpty,
        s"wedge pipeline sort-merged under the broadcast guard:\n" +
          smj.map(_.toString).mkString("\n").take(4000))
    } finally spark.listenerManager.unregister(listener)
  }

  test("triangles past the broadcast gate shuffled-hash-joins the " +
      "wedge pipeline (never sorts the wedge stream) and matches the " +
      "pinned-broadcast output row for row") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{
      BaseJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    def allNodes(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      p +: expanded.flatMap(allNodes)
    }
    val edges = spark.range(0, 4000).selectExpr(
      "pmod(xxhash64(id), 500) AS a",
      "pmod(xxhash64(id * 31 + 7), 500) AS b")
    val pinned = GraphOps.triangles(edges, "a", "b")
      .orderBy(col("node")).collect().toSeq
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    spark.conf.set("spark.graft.triangles.broadcastMaxBytes", "1")
    try {
      val gated = GraphOps.triangles(edges, "a", "b")
        .orderBy(col("node")).collect().toSeq
      assert(gated === pinned,
        "gated (shuffled-hash) census diverged from the broadcast one")
      import scala.jdk.CollectionConverters._
      def refsDv(n: SparkPlan): Boolean =
        n.expressions.exists(_.references.exists(_.name == "dv"))
      def triNodes: Seq[SparkPlan] = captured.asScala.toSeq
        .map(qe => allNodes(qe.executedPlan))
        .filter(_.exists(refsDv))
        .flatten
      def wedgeShj: Seq[SparkPlan] = triNodes.collect {
        case s: ShuffledHashJoinExec if refsDv(s) => s
      }
      val deadline = System.currentTimeMillis() + 20000
      while (System.currentTimeMillis() < deadline && wedgeShj.isEmpty)
        Thread.sleep(100)
      assert(wedgeShj.nonEmpty,
        "no shuffled-hash wedge join captured past the gate")
      val smj = triNodes.collect { case s: SortMergeJoinExec => s }
      assert(smj.isEmpty,
        s"wedge pipeline sort-merged past the broadcast gate:\n" +
          smj.map(_.toString).mkString("\n").take(4000))
      // the stated build-side bound holds only if every shuffled hash
      // join builds on the oriented edge set: its build side reads the
      // oriented cache (a leaf here) and joins nothing itself
      def toCache(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => toCache(a.executedPlan)
        case q: QueryStageExec => toCache(q.plan)
        case _: InMemoryTableScanExec => Nil
        case other => other.children.flatMap(toCache)
      })
      def orientedScan(n: SparkPlan): Boolean = n match {
        case s: InMemoryTableScanExec =>
          s.relation.output.exists(_.name == "dv")
        case _ => false
      }
      val shj = triNodes.collect { case j: ShuffledHashJoinExec => j }
        .filter(j => toCache(j).exists(orientedScan))
      assert(shj.size >= 2, "expected the wedge and closing joins")
      shj.foreach { j =>
        val build = toCache(if (j.buildSide == BuildLeft) j.left else j.right)
        assert(build.exists(orientedScan) &&
          !build.exists(_.isInstanceOf[BaseJoinExec]),
          s"build side is not the oriented edge set:\n$j")
      }
    } finally {
      spark.conf.unset("spark.graft.triangles.broadcastMaxBytes")
      spark.listenerManager.unregister(listener)
    }
  }

  test("modularity matches the hand formula; one-community graph " +
      "scores 0; unlabeled nodes fall back to singletons") {
    // triangle {1,2,3} + disjoint edge {4,5}: m=4, all intra, degree
    // mass 6 and 2 => Q = (4*4*4 - 40)/(4*16) = 0.375
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val lab = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 40L),
      (5L, 40L)).toDF("node", "label")
    val r = GraphOps.modularity(e, "src", "dst", lab).collect()(0)
    assert(r.getLong(0) === 4L && r.getLong(1) === 4L)
    assert(r.getLong(2) === 375000L)
    // everything in ONE community: Q = (4m*m - (2m)^2)/(4m^2) = 0
    val one = lab.select($"node", lit(7L).as("label"))
    assert(GraphOps.modularity(e, "src", "dst", one)
      .collect()(0).getLong(2) === 0L)
    // labels covering only {1,2,3}: 4 and 5 become singletons, the
    // (4,5) edge turns inter-community => intra=3,
    // dsq = 36 + 1 + 1 = 38, Q = (4*4*3 - 38)/64 = 10/64
    val part = lab.where($"node" <= 3L)
    val r2 = GraphOps.modularity(e, "src", "dst", part).collect()(0)
    assert(r2.getLong(1) === 3L)
    assert(r2.getLong(2) === 1000000L * 10 / 64)
  }

  test("modularity on an empty / all-self-loop edge set returns the " +
      "clean (0, 0, 0) row instead of NPEing on a NULL sum") {
    val lab = Seq((1L, 10L)).toDF("node", "label")
    val empty = spark.emptyDataset[(Long, Long)].toDF("src", "dst")
    val r0 = GraphOps.modularity(empty, "src", "dst", lab).collect()(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2)) === ((0L, 0L, 0L)))
    // self-loops and null endpoints are dropped by canonicalization,
    // so this edge set is ALSO empty after the where()
    val loops = Seq((1L, 1L), (2L, 2L)).toDF("src", "dst")
    val r1 = GraphOps.modularity(loops, "src", "dst", lab).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) === ((0L, 0L, 0L)))
  }

  test("khopReach: BFS levels, no re-relaxation on cycles, seeds at 0") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 1L))
      .toDF("src", "dst")
    val out = GraphOps.khopReach(chain, "src", "dst",
        Seq(1L).toDF("n"), hops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 1 at hop 0; 2 at hop 1; 3 at hop 2; 4 unreached; 1 NOT
    // re-reached at hop 2 through the 2->1 back edge
    assert(out === Map(1L -> 0, 2L -> 1, 3L -> 2))
    val zero = GraphOps.khopReach(chain, "src", "dst",
      Seq(9L).toDF("n"), hops = 0).collect()
    assert(zero.map(_.getLong(0)).toSeq === Seq(9L))
    intercept[IllegalArgumentException] {
      GraphOps.khopReach(chain, "src", "dst", Seq(1L).toDF("n"), -1)
    }
  }
}
