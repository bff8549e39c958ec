package graft.operators

import graft.SparkSuite

class ConnectedComponentsSpec extends SparkSuite {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("clique, chain, and isolated pair all label to component min") {
    // clique {1,2,3}, chain 10-11-12-13-14 (diameter 4), pair {20,21}
    val got = cc(Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (20L, 21L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 14L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges past many rounds (label travels end to end)") {
    // 0-1-2-...-15: min label 0 must reach vertex 15 (diameter 15)
    val got = cc((0L until 15L).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(0L))
  }

  test("merging bridges: two cliques joined by one edge form one component") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L), (3L, 7L)))
    assert(got.values.toSet == Set(1L))
  }

  test("vertices appear exactly once and only graph vertices appear") {
    val pairs = Seq((5L, 9L), (9L, 5L), (2L, 4L))
    val rows = Dedup.connectedComponents(pairs.toDF("i", "j")).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L, 5L, 9L))
  }

  private def ccAlt(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponentsAlternating(pairs.toDF("i", "j"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alternating: clique, chain, and pair match the propagation labels") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (20L, 21L))
    assert(ccAlt(pairs) == cc(pairs))
  }

  test("alternating: 200-vertex path needs far fewer than diameter rounds") {
    // Diameter 200: propagation needs ~200 rounds; large-star/small-star
    // is O(log² n). maxRounds=12 would leave propagation wrong but must
    // suffice here.
    val pairs = (0L until 200L).map(i => (i, i + 1))
    val got = Dedup.connectedComponentsAlternating(
      pairs.toDF("i", "j"), maxRounds = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 201 && got.values.toSet == Set(0L))
  }

  test("alternating: seeded random graphs agree with propagation") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val n = 60
      val pairs = (1 to 80).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(ccAlt(pairs) == cc(pairs))
    }
  }

  test("alternating: self-pair-only vertex labels to itself") {
    val pairs = Seq((7L, 7L), (1L, 2L))
    assert(ccAlt(pairs) == Map(7L -> 7L, 1L -> 1L, 2L -> 1L))
    assert(cc(pairs) == ccAlt(pairs))
  }

  // Reference labels for the specs below: BFS from each unvisited
  // vertex in ascending order, so the first vertex found is the min.
  private def expected(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val label = scala.collection.mutable.Map[Long, Long]()
    adj.keys.toSeq.sorted.foreach { root =>
      if (!label.contains(root)) {
        var frontier = List(root)
        label(root) = root
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filterNot(label.contains).distinct
          frontier.foreach(label(_) = root)
        }
      }
    }
    label.toMap
  }

  test("a 40-vertex chain labels every vertex to 0 (diameter > 20)") {
    val pairs = (0L until 39L).map(i => (i, i + 1))
    assert(cc(pairs) == (0L until 40L).map(_ -> 0L).toMap)
  }

  test("alternating: too few rounds throws, naming maxRounds") {
    val pairs = (0L until 200L).map(i => (i, i + 1)).toDF("i", "j")
    val err = intercept[IllegalStateException] {
      Dedup.connectedComponentsAlternating(pairs, maxRounds = 2)
    }
    assert(err.getMessage.contains("maxRounds=2"), err.getMessage)
  }

  test("seeded random graphs give the same rows on both sides of the " +
      "edge bound") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val pairs = (1 to 120).map(_ =>
        (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      def rows(bound: Long): Seq[(Long, Long)] =
        Dedup.componentsWithin(pairs.toDF("i", "j"), 20, bound)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val local = rows(Dedup.LocalEdgeBound)
      assert(local == expected(pairs).toSeq.sorted)
      assert(rows(0L) == local)
    }
  }

  test("a null endpoint fails naming the pair") {
    val pairs = Seq((Some(1L), Some(2L)), (Some(3L), None)).toDF("i", "j")
    val err = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs)
    }
    assert(err.getMessage.contains("pair (3, null)"), err.getMessage)
    // the distributed path fails in its first round, with the same pair
    val dist = intercept[Exception](Dedup.componentsWithin(pairs, 20, 0L))
    assert(dist.getMessage.contains("pair (3, null)"), dist.getMessage)
  }

  test("output is (id, component) typed like the pair ids, on both " +
      "sides of the edge bound") {
    import org.apache.spark.sql.types._
    Seq(LongType, IntegerType).foreach { t =>
      val pairs = Seq((1L, 2L), (2L, 3L), (5L, 5L)).toDF("i", "j")
        .select($"i".cast(t).as("i"), $"j".cast(t).as("j"))
      Seq(Dedup.LocalEdgeBound, 0L).foreach { bound =>
        val out = Dedup.componentsWithin(pairs, 20, bound)
        assert(out.schema.map(f => f.name -> f.dataType) ==
          Seq("id" -> t, "component" -> t))
        assert(out.orderBy("id").collect().map(r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
          .toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L)))
      }
    }
  }

  test("components of a memoized pair relation take one job; reading " +
      "them takes none") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // a later job in another group: once the status store shows it,
      // every event posted before it has been processed
      val barrier = s"$group-barrier"
      sc.setJobGroup(barrier, barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 20000
      while (sc.statusTracker.getJobIdsForGroup(barrier).isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    var comp: org.apache.spark.sql.DataFrame = null
    assert(jobsIn("cc-build") { comp = Dedup.connectedComponents(pairs) } == 1)
    assert(jobsIn("cc-read") { comp.collect() } == 0)
    assert(comp.collect().nonEmpty)
  }

  test("corpus pairs roll up consistently with pair-level removal") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ps = pairs.select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every pair is within one component; a representative (component
    // min) can never be any pair's j — its i is smaller and connected
    assert(ps.forall { case (i, j) => comp(i) == comp(j) })
    assert(comp.values.toSet.intersect(ps.map(_._2).toSet).isEmpty)
  }
}
