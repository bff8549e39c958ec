package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Growth-bound smoke: the closest local[32] gets to the 100× question.
  * Each headline scale-path family runs at a small size and at ~10× the
  * sf0.1 bench volume (synthesized in-test, distributed generation —
  * nothing checked in), and the wall-time RATIO must stay far below the
  * quadratic signature (10× data ⇒ ~100× for an O(n²) shape; the bound
  * here is 30×, i.e. comfortably sub-quadratic even with constant
  * overheads and JIT noise). Plan shapes are asserted unchanged at the
  * big size — growth must come from data volume, not a plan degrade.
  * Measured factors are recorded in PERF.md each round.
  */
class ScaleGrowthSpec extends SparkSuite {
  import spark.implicits._

  /** n base docs (60 pseudo-words over a 2k vocab, fully determined by
    * doc_id) plus `dupes` planted near-dups (doc 1M+i = doc i with word
    * 30 changed). Generated distributed: no driver-side row building.
    */
  private def synthDocs(n: Long, dupes: Long): DataFrame = {
    val base = spark.range(n).select($"id".as("doc_id"))
      .withColumn("text", array_join(expr(
        "transform(sequence(0, 59), i -> " +
          "concat('w', pmod(xxhash64(doc_id * 60 + CAST(i AS BIGINT)), 2000)))"),
        " "))
    val dup = spark.range(dupes).select($"id".as("src"))
      .select(($"src" + 1000000L).as("doc_id"), array_join(expr(
        "transform(sequence(0, 59), i -> CASE WHEN i = 30 THEN 'CHANGED' " +
          "ELSE concat('w', pmod(xxhash64(src * 60 + CAST(i AS BIGINT)), 2000)) END)"),
        " ").as("text"))
    base.unionByName(dup).repartition(32)
  }

  private def timedSecs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  // noise floor: ratios over sub-second denominators say nothing
  private def ratio(big: Double, small: Double): Double =
    big / math.max(small, 0.5)

  // Wall-clock bounds are only ASSERTED when SPARK_GRAFT_PERF_ASSERTS
  // is set (the perf-smoke invocation): on a loaded CI host the small
  // denominator + JIT/GC noise can breach a ratio nondeterministically.
  // The functional run still executes every query and checks the
  // deterministic planted-pair and plan-shape contracts.
  private val perfAsserts = sys.env.contains("SPARK_GRAFT_PERF_ASSERTS")
  private def assertPerf(cond: => Boolean, msg: => String): Unit =
    if (perfAsserts) assert(cond, msg)
    else if (!cond) info(s"PERF bound breached (not asserted): $msg")
    else ()

  test("MinHash-LSH grows sub-quadratically from 5k to 50k docs") {
    val small = synthDocs(5000, 50).persist()
    val big = synthDocs(50000, 50).persist()
    small.count(); big.count()
    try {
      val planted = (0 until 50).map(i => (i.toLong, 1000000L + i)).toSet
      var ps: Set[(Long, Long)] = null
      var pb: Set[(Long, Long)] = null
      val tS = timedSecs {
        ps = Dedup.minhashDupPairs(small, "doc_id", "text", n = 3,
          numHashes = 128, bands = 16, tau = 0.5)
          .select($"i", $"j").as[(Long, Long)].collect().toSet
      }
      val tB = timedSecs {
        pb = Dedup.minhashDupPairs(big, "doc_id", "text", n = 3,
          numHashes = 128, bands = 16, tau = 0.5)
          .select($"i", $"j").as[(Long, Long)].collect().toSet
      }
      assert(planted.subsetOf(ps) && planted.subsetOf(pb),
        "planted near-dups missed")
      val r = ratio(tB, tS)
      info(f"minhash 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x data grew $r%.1fx — not sub-quadratic")
    } finally { small.unpersist(); big.unpersist() }
  }

  test("incremental dedup: a 1k batch joins a 50k index at near the " +
      "5k-index cost (index size must not dominate)") {
    val exS = synthDocs(5000, 0).persist()
    val exB = synthDocs(50000, 0).persist()
    // incoming: 500 near-dups of existing docs + 500 fresh
    val inc = synthDocs(500, 500).where($"doc_id" >= 1000000L)
      .unionByName(synthDocs(600, 0).where($"doc_id" >= 100)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat($"text", lit(" FRESHTAIL")).as("text")))
      .persist()
    exS.count(); exB.count(); inc.count()
    try {
      val planted = (0 until 500).map(i => 1000000L + i).toSet
      var fS: Set[Long] = null
      var fB: Set[Long] = null
      val tS = timedSecs {
        fS = Dedup.crossCorpusDupPairs(exS, inc, "doc_id", "text",
          tau = 0.5).select($"new_id").distinct().as[Long].collect().toSet
      }
      Dedup.releaseCaches()
      val tB = timedSecs {
        fB = Dedup.crossCorpusDupPairs(exB, inc, "doc_id", "text",
          tau = 0.5).select($"new_id").distinct().as[Long].collect().toSet
      }
      assert(planted.subsetOf(fS) && planted.subsetOf(fB),
        "planted cross-dups missed")
      val r = ratio(tB, tS)
      info(f"incremental 1k vs 5k: $tS%.1f s, vs 50k: $tB%.1f s, " +
        f"growth $r%.1fx")
      assertPerf(r < 30.0, f"10x index grew $r%.1fx — not sub-quadratic")
    } finally { exS.unpersist(); exB.unpersist(); inc.unpersist() }
  }

  test("contamination scan grows linearly in the train side with a " +
      "fixed eval suite (capped broadcast, train never shuffled)") {
    val small = synthDocs(5000, 0).persist()
    val big = synthDocs(50000, 0).persist()
    small.count(); big.count()
    try {
      // eval = a fixed 200-doc suite (ids < 200) in both runs
      def contam(df: org.apache.spark.sql.DataFrame) =
        SpanDedup.contamination(df, "doc_id", "text", n = 8,
          isEval = $"doc_id" < 200).count()
      val tS = timedSecs { contam(small) }
      Dedup.releaseCaches()
      val tB = timedSecs { contam(big) }
      val r = ratio(tB, tS)
      info(f"contamination 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x train side grew $r%.1fx")
    } finally { small.unpersist(); big.unpersist() }
  }

  test("winnow overlap grows sub-quadratically from 5k to 50k docs " +
      "(df-cap bounds the fingerprint bucket join)") {
    val small = synthDocs(5000, 50).persist()
    val big = synthDocs(50000, 50).persist()
    small.count(); big.count()
    try {
      val planted = (0 until 50).map(i => (i.toLong, 1000000L + i)).toSet
      def overlap(df: DataFrame): Set[(Long, Long)] = {
        val r = Dedup.winnowOverlapPairs(df, "doc_id", "text",
          minShared = 5, maxDocFreq = 20)
          .select($"i", $"j").as[(Long, Long)].collect().toSet
        Dedup.releaseCaches()
        r
      }
      var ps: Set[(Long, Long)] = null
      var pb: Set[(Long, Long)] = null
      val tS = timedSecs { ps = overlap(small) }
      val tB = timedSecs { pb = overlap(big) }
      // a one-word edit leaves most of the 58 gram hashes shared —
      // every planted pair must surface at both sizes
      assert(planted.subsetOf(ps) && planted.subsetOf(pb),
        s"planted span pairs missed: small ${(planted -- ps).size}, " +
          s"big ${(planted -- pb).size}")
      val r = ratio(tB, tS)
      info(f"winnow overlap 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x data grew $r%.1fx — not sub-quadratic")
    } finally { small.unpersist(); big.unpersist() }
  }

  test("containment posting-list join grows sub-quadratically from " +
      "5k to 50k docs; planted excerpts recovered, direction honored") {
    // excerpt plants: doc 1M+i = the first 20 words of doc i, so all
    // 18 of its shingles appear in the source → cont(excerpt→src) = 1,
    // while the reverse direction is 18/58 ≈ 0.31 and must NOT surface
    def synthWithExcerpts(n: Long, ex: Long): DataFrame = {
      val base = spark.range(n).select($"id".as("doc_id"))
        .withColumn("text", array_join(expr(
          "transform(sequence(0, 59), i -> " +
            "concat('w', pmod(xxhash64(doc_id * 60 + CAST(i AS BIGINT)), 2000)))"),
          " "))
      val exc = spark.range(ex).select($"id".as("src"))
        .select(($"src" + 1000000L).as("doc_id"), array_join(expr(
          "transform(sequence(0, 19), i -> " +
            "concat('w', pmod(xxhash64(src * 60 + CAST(i AS BIGINT)), 2000)))"),
          " ").as("text"))
      base.unionByName(exc).repartition(32)
    }
    val small = synthWithExcerpts(5000, 50).persist()
    val big = synthWithExcerpts(50000, 50).persist()
    small.count(); big.count()
    try {
      val planted = (0 until 50).map(i => (1000000L + i, i.toLong)).toSet
      def pairs(df: DataFrame): Set[(Long, Long)] = {
        val r = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
          tau = 0.8).select($"i", $"j").as[(Long, Long)].collect().toSet
        Dedup.releaseCaches()
        r
      }
      var ps: Set[(Long, Long)] = null
      var pb: Set[(Long, Long)] = null
      val tS = timedSecs { ps = pairs(small) }
      val tB = timedSecs { pb = pairs(big) }
      assert(planted.subsetOf(ps) && planted.subsetOf(pb),
        s"planted excerpts missed: small ${(planted -- ps).size}, " +
          s"big ${(planted -- pb).size}")
      // asymmetric: no source→excerpt row may appear at tau 0.8
      val reversed = planted.map(_.swap)
      assert((ps intersect reversed).isEmpty &&
        (pb intersect reversed).isEmpty, "containment direction violated")
      val r = ratio(tB, tS)
      info(f"containment 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x data grew $r%.1fx — not sub-quadratic")
    } finally { small.unpersist(); big.unpersist() }
  }

  /** `skewN` identical boilerplate docs (ids >= 3M) on top of a normal
    * corpus — the zipfian band-key shape of real web data: every band
    * of every boilerplate doc lands on ONE key.
    */
  private def synthSkewed(n: Long, dupes: Long, skewN: Long): DataFrame =
    synthDocs(n, dupes).unionByName(
      spark.range(skewN).select(($"id" + 3000000L).as("doc_id"),
        lit(Seq.fill(60)("boilerplate").mkString(" ")).as("text")))
      .repartition(32)

  private def withMaxTaskMs[A](f: => A): (A, Long) = {
    val maxMs = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null)
          maxMs.getAndUpdate(m => math.max(m, te.taskInfo.duration))
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try f finally {
      Thread.sleep(500) // listener bus is async; let task events drain
      spark.sparkContext.removeSparkListener(listener)
    }
    (out, maxMs.get())
  }

  test("zipfian skew: a 10% boilerplate cluster under the band df-cap " +
      "stays sub-quadratic, no straggler task, planted pairs intact") {
    val uniform = synthDocs(20000, 50).persist()
    val skewed = synthSkewed(18000, 50, 2000).persist()
    uniform.count(); skewed.count()
    try {
      val planted = (0 until 50).map(i => (i.toLong, 1000000L + i)).toSet
      def pairs(df: DataFrame): Set[(Long, Long)] = {
        val r = Dedup.minhashDupPairs(df, "doc_id", "text", n = 3,
          numHashes = 128, bands = 16, tau = 0.5,
          maxBandDocFreq = Some(100))
          .select($"i", $"j").as[(Long, Long)].collect().toSet
        Dedup.releaseCaches()
        r
      }
      var pu: Set[(Long, Long)] = null
      var pk: Set[(Long, Long)] = null
      val tU = timedSecs { pu = pairs(uniform) }
      val (tK, maxTaskMs) = withMaxTaskMs {
        timedSecs { pk = pairs(skewed) }
      }
      // deterministic contracts, always asserted
      assert(planted.subsetOf(pu) && planted.subsetOf(pk),
        "planted near-dups missed under skew")
      assert(!pk.exists(p => p._1 >= 3000000L && p._2 >= 3000000L),
        "boilerplate cluster leaked O(cluster²) pairs past the df-cap")
      val r = tK / math.max(tU, 0.5)
      info(f"minhash uniform 20k: $tU%.1f s, skewed 20k: $tK%.1f s " +
        f"(ratio $r%.1fx, max task ${maxTaskMs}ms)")
      // perf contracts: skew must not blow up the wall clock, and no
      // single task may dominate the skewed run
      assertPerf(r < 3.0, f"boilerplate skew cost $r%.1fx uniform")
      assertPerf(maxTaskMs < math.max(2000L, (tK * 1000 / 2).toLong),
        s"straggler task ${maxTaskMs}ms dominates the ${tK}s run")
    } finally { uniform.unpersist(); skewed.unpersist() }
  }

  test("incremental path under boilerplate skew: the DEFAULT band " +
      "df-cap holds with the hot bucket on the RESIDENT side") {
    val exU = synthDocs(20000, 0).persist()
    val exK = synthSkewed(18000, 0, 2000).persist()
    // incoming: 500 near-dups of existing docs plus 500 boilerplate
    // rows that ALONE sit under the default cap (500 < 1000) — only
    // the union with the resident side's 2000-doc bucket trips it, so
    // this exercises the hot-on-either-side logic, with the guard at
    // its wired default (no explicit maxBandDocFreq argument).
    val inc = synthDocs(500, 500).where($"doc_id" >= 1000000L)
      .unionByName(spark.range(500)
        .select(($"id" + 4000000L).as("doc_id"),
          lit(Seq.fill(60)("boilerplate").mkString(" ")).as("text")))
      .repartition(32).persist()
    exU.count(); exK.count(); inc.count()
    try {
      val planted = (0 until 500).map(i => 1000000L + i).toSet
      def flagged(ex: DataFrame): Set[(Long, Long)] = {
        val r = Dedup.crossCorpusDupPairs(ex, inc, "doc_id", "text",
          tau = 0.5).select($"new_id", $"old_id")
          .as[(Long, Long)].collect().toSet
        Dedup.releaseCaches()
        r
      }
      var fU: Set[(Long, Long)] = null
      var fK: Set[(Long, Long)] = null
      val tU = timedSecs { fU = flagged(exU) }
      val (tK, maxTaskMs) = withMaxTaskMs {
        timedSecs { fK = flagged(exK) }
      }
      assert(planted.subsetOf(fU.map(_._1)) &&
        planted.subsetOf(fK.map(_._1)),
        "planted cross near-dups missed under skew")
      assert(!fK.exists(_._1 >= 4000000L),
        "boilerplate batch x resident boilerplate leaked " +
          "O(batch x cluster) pairs past the default df-cap")
      val r = tK / math.max(tU, 0.5)
      info(f"incremental uniform: $tU%.1f s, skewed resident: $tK%.1f s " +
        f"(ratio $r%.1fx, max task ${maxTaskMs}ms)")
      assertPerf(r < 3.0, f"resident boilerplate skew cost $r%.1fx")
      assertPerf(maxTaskMs < math.max(2000L, (tK * 1000 / 2).toLong),
        s"straggler task ${maxTaskMs}ms dominates the ${tK}s run")
    } finally { exU.unpersist(); exK.unpersist(); inc.unpersist() }
  }

  test("winnow overlap under the same boilerplate skew: the " +
      "fingerprint df-cap absorbs the hot keys") {
    val uniform = synthDocs(20000, 50).persist()
    val skewed = synthSkewed(18000, 50, 2000).persist()
    uniform.count(); skewed.count()
    try {
      val planted = (0 until 50).map(i => (i.toLong, 1000000L + i)).toSet
      def overlap(df: DataFrame): Set[(Long, Long)] = {
        val r = Dedup.winnowOverlapPairs(df, "doc_id", "text",
          minShared = 5, maxDocFreq = 20)
          .select($"i", $"j").as[(Long, Long)].collect().toSet
        Dedup.releaseCaches()
        r
      }
      var pu: Set[(Long, Long)] = null
      var pk: Set[(Long, Long)] = null
      val tU = timedSecs { pu = overlap(uniform) }
      val tK = timedSecs { pk = overlap(skewed) }
      assert(planted.subsetOf(pu) && planted.subsetOf(pk),
        "planted span pairs missed under skew")
      assert(!pk.exists(p => p._1 >= 3000000L && p._2 >= 3000000L),
        "boilerplate cluster leaked pairs past the df-cap")
      val r = tK / math.max(tU, 0.5)
      info(f"winnow uniform 20k: $tU%.1f s, skewed 20k: $tK%.1f s " +
        f"(ratio $r%.1fx)")
      assertPerf(r < 3.0, f"boilerplate skew cost $r%.1fx uniform")
    } finally { uniform.unpersist(); skewed.unpersist() }
  }

  test("heavy hitters: 10x rows over a growing vocabulary stays " +
      "linear — the shuffle carries sketches, not the item domain") {
    // 10% of the mass on 7 planted heavy items (each ≫ N/(capacity+1),
    // so the two-pass result is provably the exact top-7); the tail is
    // a 500k-slot hash domain, so vocabulary grows with n and a plain
    // groupBy would shuffle one row per distinct item.
    def items(n: Long) = spark.range(n).selectExpr(
      "CASE WHEN id % 10 = 0 THEN concat('hh_', pmod(id, 7)) " +
        "ELSE concat('t_', pmod(xxhash64(id), 500000)) END AS item")
      .repartition(32)
    def top(n: Long) =
      HeavyHitters.topK(items(n), "item", k = 7, capacity = 4096)
        .collect().map(_.getString(0)).toSet
    var sS: Set[String] = null
    var sB: Set[String] = null
    val tS = timedSecs { sS = top(300000) }
    val tB = timedSecs { sB = top(3000000) }
    val want = (0 until 7).map(i => s"hh_$i").toSet
    assert(sS === want && sB === want, s"exact top-7 lost: $sS / $sB")
    val r = ratio(tB, tS)
    info(f"heavy hitters 300k: $tS%.1f s, 3M: $tB%.1f s, growth $r%.1fx")
    assertPerf(r < 30.0, f"10x rows grew $r%.1fx — not linear")
  }

  test("IVF-SQ8 search cost tracks corpus size linearly and keeps its " +
      "pruned int8 plan at 10x") {
    def vecs(n: Long) = synthDocs(n, 0)
      .select($"doc_id".as("vec_id"),
        graft.functions.TextFunctions.hash_embedding($"text", 64)
          .as("embedding"))
    val vS = vecs(2000).persist()
    val vB = vecs(20000).persist()
    vS.count(); vB.count()
    try {
      // builds are the corpus-scan part — outside the search timer,
      // as in production (the index is a durable artifact)
      val mS = IvfIndex.build(vS, "vec_id", "embedding",
        nCells = 16, maxIter = 3, kind = IvfIndex.StorageKind.Sq8())
      val mB = IvfIndex.build(vB, "vec_id", "embedding",
        nCells = 16, maxIter = 3, kind = IvfIndex.StorageKind.Sq8())
      val qS = vS.where($"vec_id" < 10)
      val qB = vB.where($"vec_id" < 10)
      val tS = timedSecs {
        IvfIndex.search(mS, qS, 10, 4).count()
      }
      val search = IvfIndex.search(mB, qB, 10, 4)
      val tB = timedSecs { search.count() }
      val r = ratio(tB, tS)
      info(f"ivf-sq8 search 2k: $tS%.1f s, 20k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x corpus grew search $r%.1fx")
      // the 10x plan still prunes cells at the scan and reads int8
      val p = search.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
        .findFirstIn(p).isDefined, s"probe filter lost at 10x:\n$p")
      assert(p.contains("smallint"), s"int8 codes not read at 10x:\n$p")
    } finally { vS.unpersist(); vB.unpersist() }
  }

  test("BQ two-stage search grows ~linearly from 2k to 20k vectors " +
      "and keeps the bits-only shortlist scan at 10x") {
    def vecs(n: Long): DataFrame = spark.range(n)
      .select($"id".as("vec_id"),
        graft.functions.TextFunctions.hash_embedding(
          concat(lit("v"), $"id"), 64).as("embedding"))
      .repartition(32)
    val vS = vecs(2000).persist()
    val vB = vecs(20000).persist()
    vS.count(); vB.count()
    try {
      def cents(df: DataFrame) = df.where($"vec_id" < 16)
        .orderBy($"vec_id").select($"embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val mS = IvfIndex.buildWithCentroids(vS, "vec_id", "embedding",
        cents(vS), kind = IvfIndex.StorageKind.Bq)
      val mB = IvfIndex.buildWithCentroids(vB, "vec_id", "embedding",
        cents(vB), kind = IvfIndex.StorageKind.Bq)
      val tS = timedSecs {
        IvfIndex.search(mS, vS.where($"vec_id" < 10), k = 10,
          nprobe = 4, shortlist = 40).count()
      }
      val search = IvfIndex.search(mB, vB.where($"vec_id" < 10),
        k = 10, nprobe = 4, shortlist = 40)
      val tB = timedSecs { search.count() }
      val r = ratio(tB, tS)
      info(f"bq search 2k: $tS%.1f s, 20k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x corpus grew BQ search $r%.1fx")
      // at 10x the shortlist pass still prunes cells AND still reads
      // bits without the float column
      val p = search.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
        .findFirstIn(p).isDefined, s"probe filter lost at 10x:\n$p")
      val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toList
      assert(reads.exists(s => s.contains("bits") && !s.contains("float")),
        s"bits-only shortlist scan lost at 10x:\n$p")
    } finally { vS.unpersist(); vB.unpersist() }
  }

  test("F16 search grows ~linearly from 2k to 20k vectors and the 10x " +
      "probe still reads a half-width (smallint) payload with cell " +
      "pruning") {
    def vecs(n: Long): DataFrame = spark.range(n)
      .select($"id".as("vec_id"),
        graft.functions.TextFunctions.hash_embedding(
          concat(lit("f"), $"id"), 64).as("embedding"))
      .repartition(32)
    val vS = vecs(2000).persist()
    val vB = vecs(20000).persist()
    vS.count(); vB.count()
    try {
      def cents(df: DataFrame) = df.where($"vec_id" < 16)
        .orderBy($"vec_id").select($"embedding").collect()
        .map(_.getSeq[Float](0).toArray)
      val mS = IvfIndex.buildWithCentroids(vS, "vec_id", "embedding",
        cents(vS), kind = IvfIndex.StorageKind.F16)
      val mB = IvfIndex.buildWithCentroids(vB, "vec_id", "embedding",
        cents(vB), kind = IvfIndex.StorageKind.F16)
      val tS = timedSecs {
        IvfIndex.search(mS, vS.where($"vec_id" < 10), k = 10,
          nprobe = 4).count()
      }
      val search = IvfIndex.search(mB, vB.where($"vec_id" < 10),
        k = 10, nprobe = 4)
      val tB = timedSecs { search.count() }
      val r = ratio(tB, tS)
      info(f"f16 search 2k: $tS%.1f s, 20k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x corpus grew F16 search $r%.1fx")
      // at 10x the probe still prunes cells and the payload scan is
      // halves — there is no float column in the artifact at all
      val p = search.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
        .findFirstIn(p).isDefined, s"probe filter lost at 10x:\n$p")
      assert("ReadSchema: [^\\n]*smallint".r.findFirstIn(p).isDefined,
        s"half payload scan lost at 10x:\n$p")
    } finally { vS.unpersist(); vB.unpersist() }
  }

  test("sparse inverted-file search grows ~linearly from 5k to 50k " +
      "docs and the 10x scan still prunes to the query terms' bucket " +
      "partitions") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val dS = synthDocs(5000, 0).persist()
    val dB = synthDocs(50000, 0).persist()
    dS.count(); dB.count()
    try {
      def dirFor(tag: String) = java.nio.file.Files
        .createTempDirectory(s"graft_sparse_grow_$tag").toString + "/idx"
      val mS = SparseIndex.build(dS, "doc_id", "text", dirFor("s"))
      val mB = SparseIndex.build(dB, "doc_id", "text", dirFor("b"))
      val words = Seq("w3", "w55", "w700")
      val tS = timedSecs { SparseIndex.search(mS, words, 10).count() }
      val search = SparseIndex.search(mB, words, 10)
      val tB = timedSecs { search.count() }
      val r = ratio(tB, tS)
      info(f"sparse search 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
      assertPerf(r < 30.0, f"10x corpus grew sparse search $r%.1fx")
      // at 10x the posting scan still carries bucket IN (...) as a
      // PartitionFilter — unrelated bucket partitions are never read,
      // the storage-layer pruning a 100 TB posting file depends on
      val p = search.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[.*bucket#\\d+ (IN|INSET)".r
        .findFirstIn(p).isDefined, s"bucket pruning lost at 10x:\n$p")
    } finally { dS.unpersist(); dB.unpersist() }
  }

  test("rollup-served aggregates stay ~constant as the base grows 10x " +
      "(dim-cardinality-bounded serving, never a fact scan)") {
    import graft.plans.SummaryRewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft_mv_grow")
    def mkBase(n: Long, tag: String): String = {
      val dir = s"$tmp/fact_$tag.parquet"
      spark.range(n).select(
          concat(lit("f"), pmod($"id", lit(4))).as("flag"),
          expr("date_add(date'2024-01-01', cast(id % 365 as int))")
            .as("day"),
          concat(lit("it"), pmod($"id", lit(11))).as("item"),
          ($"id" % 97).cast("double").as("m"))
        .repartition(32)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val dirS = mkBase(50000, "s")
    val dirB = mkBase(500000, "b")
    val items = Seq(SummaryRewrite.ItemsSpec("item", 32))
    SummaryRewrite.register(spark, dirS, s"$tmp/roll_s",
      Seq("flag", "day"), Seq("m"), sketches = items)
    SummaryRewrite.register(spark, dirB, s"$tmp/roll_b",
      Seq("flag", "day"), Seq("m"), sketches = items)
    try {
      def serve(dir: String) = spark.read.parquet(dir)
        .groupBy($"flag")
        .agg(count(lit(1)).as("n"), sum($"m").as("s"),
          max($"m").as("mx"))
      // warm both (first-touch file listing / codegen)
      serve(dirS).collect(); serve(dirB).collect()
      val tS = timedSecs { serve(dirS).collect() }
      val qB = serve(dirB)
      val tB = timedSecs { qB.collect() }
      val r = ratio(tB, tS)
      info(f"rollup serve 50k-base: $tS%.2f s, 500k-base: $tB%.2f s, " +
        f"growth $r%.1fx")
      // both rollups have <= 4*365 rows — serving must not track base
      // size (a fact-scan plan would be ~10x)
      assertPerf(r < 3.0, f"10x base grew rollup serving $r%.1fx")
      // and the big-base plan really reads the rollup, not the fact
      val scans = qB.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.exists(_.contains("roll_b")), s"scanned $scans")
      assert(!scans.exists(_.contains("fact_b")), s"scanned $scans")
      // frequent-items serving from the rollup is dim-bounded too:
      // the MG fold moves <= |dim groups| * capacity counters, never
      // base rows
      def topSrv(roll: String) = SummaryRewrite.approxTopItems(
        spark, roll, Seq("flag"), "item", 5)
      topSrv(s"$tmp/roll_s").collect(); topSrv(s"$tmp/roll_b").collect()
      val tTS = timedSecs { topSrv(s"$tmp/roll_s").collect() }
      val tTB = timedSecs { topSrv(s"$tmp/roll_b").collect() }
      val rT = ratio(tTB, tTS)
      info(f"topitems serve 50k-base: $tTS%.2f s, 500k-base: " +
        f"$tTB%.2f s, growth $rT%.1fx")
      assertPerf(rT < 3.0, f"10x base grew topitems serving $rT%.1fx")
    } finally {
      SummaryRewrite.unregister(spark, dirS)
      SummaryRewrite.unregister(spark, dirB)
    }
  }

  test("sample-quantile serving stays dim-bounded as the base grows " +
      "10x; priority sampling grows ~linearly with a bounded top-k " +
      "plan") {
    import graft.plans.SummaryRewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft_smp_grow")
    def mkBase(n: Long, tag: String): String = {
      val dir = s"$tmp/fact_$tag.parquet"
      spark.range(n).select($"id",
          concat(lit("f"), pmod($"id", lit(4))).as("flag"),
          ($"id" % 97 + 1).cast("double").as("m"))
        .repartition(32)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val dirS = mkBase(50000, "s")
    val dirB = mkBase(500000, "b")
    val smp = Seq(SummaryRewrite.SampleQSpec("id", "m", 1024))
    SummaryRewrite.register(spark, dirS, s"$tmp/roll_s",
      Seq("flag"), Seq("m"), sketches = smp)
    SummaryRewrite.register(spark, dirB, s"$tmp/roll_b",
      Seq("flag"), Seq("m"), sketches = smp)
    try {
      // quantile serving reads |dims| * k pairs whatever the base is
      def serve(roll: String) = SummaryRewrite.sampleQuantiles(
        spark, roll, Seq("flag"), "m", Seq(0.5, 0.99))
      serve(s"$tmp/roll_s").collect(); serve(s"$tmp/roll_b").collect()
      val tS = timedSecs { serve(s"$tmp/roll_s").collect() }
      val tB = timedSecs { serve(s"$tmp/roll_b").collect() }
      val r = ratio(tB, tS)
      info(f"sample-quantile serve 50k-base: $tS%.2f s, 500k-base: " +
        f"$tB%.2f s, growth $r%.1fx")
      assertPerf(r < 3.0, f"10x base grew sample-quantile serve $r%.1fx")
      // weighted priority sampling is one bounded top-k pass: ~linear
      // in rows, never a global sort
      def draw(dir: String) = PrioritySample.sample(
        spark.read.parquet(dir), $"id", ($"m" * 10).cast("long"), 64)
      draw(dirS).collect(); draw(dirB).collect()
      val pS = timedSecs { draw(dirS).collect() }
      val qB = draw(dirB)
      val pB = timedSecs { qB.collect() }
      val rp = ratio(pB, pS)
      info(f"priority sample 50k: $pS%.2f s, 500k: $pB%.2f s, " +
        f"growth $rp%.1fx")
      assertPerf(rp < 30.0, f"10x rows grew priority sampling $rp%.1fx")
      assert(qB.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
        "big-size draw must keep the bounded top-k plan")
    } finally {
      SummaryRewrite.unregister(spark, dirS)
      SummaryRewrite.unregister(spark, dirB)
    }
  }

  test("PageRank grows ~linearly in edges (100k -> 1M, iters=10) and " +
      "the per-round plan stays bounded (persist + localCheckpoint)") {
    // synthetic power-law-ish graph: src uniform, dst biased to low
    // ids (hubs) — fully determined by edge id, generated distributed
    def edges(n: Long): DataFrame = spark.range(n).select(
      pmod(xxhash64($"id"), lit(n / 10)).as("src"),
      pmod(xxhash64($"id" + 1000000007L),
        pmod(xxhash64($"id" * 31L), lit(n / 10)) + lit(1)).as("dst"))
    def run(n: Long): Double = timedSecs {
      GraphOps.pageRank(edges(n), "src", "dst", iters = 10).count()
    }
    run(100000L) // warm (codegen, shuffle service)
    val tS = run(100000L)
    val tB = run(1000000L)
    val r = ratio(tB, tS)
    info(f"pagerank 100k edges: $tS%.1f s, 1M: $tB%.1f s, growth $r%.1fx")
    assertPerf(r < 30.0, f"10x edges grew $r%.1fx — not linear")
    // the plan-growth contract directly: after 10 rounds the returned
    // frame's logical plan must be a checkpoint scan, not a 10-round
    // join tower (the driver dies on plan handling long before data
    // does if lineage is left to compound)
    val ranks = GraphOps.pageRank(edges(100000L), "src", "dst",
      iters = 10)
    val planNodes = ranks.queryExecution.optimizedPlan.collect {
      case n => n
    }.size
    assert(planNodes <= 4,
      s"rank plan has $planNodes nodes — lineage is compounding")
  }

  test("modularity + khop grow sub-quadratically in edges (20k -> " +
      "200k): three aggregate passes / bounded BFS rounds") {
    def edges(n: Long): DataFrame = spark.range(n).select(
      pmod(xxhash64($"id"), lit(n / 10)).as("src"),
      pmod(xxhash64($"id" + 77L), lit(n / 10)).as("dst"))
    def runMod(n: Long): Double = timedSecs {
      val e = edges(n)
      val lab = e.select($"src".as("node"),
        pmod($"src", lit(50L)).as("label")).distinct()
      GraphOps.modularity(e, "src", "dst", lab).count()
    }
    def runHop(n: Long): Double = timedSecs {
      GraphOps.khopReach(edges(n), "src", "dst",
        spark.range(0, 20).toDF("node"), hops = 2).count()
    }
    runMod(20000L); runHop(20000L) // warm
    val mS = runMod(20000L); val mB = runMod(200000L)
    val hS = runHop(20000L); val hB = runHop(200000L)
    val rm = ratio(mB, mS); val rh = ratio(hB, hS)
    info(f"modularity 20k: $mS%.1f s, 200k: $mB%.1f s, growth $rm%.1fx")
    info(f"khop 20k: $hS%.1f s, 200k: $hB%.1f s, growth $rh%.1fx")
    assertPerf(rm < 30.0, f"10x edges grew modularity $rm%.1fx")
    assertPerf(rh < 30.0, f"10x edges grew khop $rh%.1fx")
  }

  test("triangle census grows sub-quadratically in edges (20k -> " +
      "200k) under the degree-ordered orientation") {
    // hub-skewed random graph (dst biased to low ids): the shape that
    // explodes an unoriented wedge join — per-hub deg² pairs — and
    // that orientation caps at O(√m) per node
    def edges(n: Long): DataFrame = spark.range(n).select(
      pmod(xxhash64($"id"), lit(n / 10)).as("src"),
      pmod(xxhash64($"id" + 1000000007L),
        pmod(xxhash64($"id" * 31L), lit(n / 10)) + lit(1)).as("dst"))
    def run(n: Long): Double = timedSecs {
      GraphOps.triangles(edges(n), "src", "dst").count()
    }
    run(20000L) // warm
    val tS = run(20000L)
    val tB = run(200000L)
    val r = ratio(tB, tS)
    info(f"triangles 20k edges: $tS%.1f s, 200k: $tB%.1f s, growth $r%.1fx")
    assertPerf(r < 30.0, f"10x edges grew $r%.1fx — wedge join is " +
      "super-linear; check the orientation")
  }

  test("resample is span-bounded, not volume-bounded: 10x events on " +
      "the same grid grow ~linearly (the grid itself is unchanged)") {
    // n events from 100 keys over a FIXED 30-day span: the output
    // grid (key x hourly bucket) is identical at both sizes, so cost
    // above the per-bucket collapse must not scale with raw volume
    def events(n: Long): DataFrame = spark.range(n).select(
      pmod(xxhash64($"id"), lit(100L)).as("k"),
      timestamp_seconds(pmod(xxhash64($"id" * 7L), lit(720L * 3600L)))
        .as("ts"),
      pmod(xxhash64($"id" * 13L), lit(1000L)).as("v"))
    def run(n: Long): Double = timedSecs {
      TimeSeries.resample(events(n), "k", "ts", "v", 3600L,
        interpolate = true).count()
    }
    run(100000L) // warm
    val tS = run(100000L)
    val tB = run(1000000L)
    val r = ratio(tB, tS)
    info(f"resample 100k events: $tS%.1f s, 1M: $tB%.1f s, growth $r%.1fx")
    assertPerf(r < 30.0, f"10x events grew $r%.1fx on a fixed grid")
    // grid-size contract: the 1M-event run (a superset of the 100k
    // ids, so spans only widen) still lives under the span cap of
    // 100 keys x 720 hourly buckets — output is span-, not
    // volume-cardinality
    val g1 = TimeSeries.resample(events(100000L), "k", "ts", "v",
      3600L).count()
    val g2 = TimeSeries.resample(events(1000000L), "k", "ts", "v",
      3600L).count()
    assert(g1 <= g2 && g2 <= 100L * 720L,
      s"grid not span-bounded: $g1 -> $g2")
  }

  test("HDR + CMS rollup serving stays dim-bounded as the base grows " +
      "10x (sketch arrays move at dim cardinality, never base rows)") {
    import graft.plans.SummaryRewrite
    val tmp = java.nio.file.Files.createTempDirectory("graft_hc_grow")
    def mkBase(n: Long, tag: String): String = {
      val dir = s"$tmp/fact_$tag.parquet"
      spark.range(n).select(
          concat(lit("f"), pmod($"id", lit(4))).as("flag"),
          pmod(xxhash64($"id"), lit(100000)).as("lat"),
          pmod(xxhash64($"id" * 7L), lit(500)).as("uid"))
        .repartition(32)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val dirS = mkBase(50000, "s")
    val dirB = mkBase(500000, "b")
    def reg(base: String, roll: String): Unit =
      SummaryRewrite.register(spark, base, roll, Seq("flag"), Nil,
        sketches = Seq(SummaryRewrite.HdrSpec("lat", "lat", 5),
          SummaryRewrite.CmsSpec("uid", 4, 512)))
    reg(dirS, s"$tmp/roll_s"); reg(dirB, s"$tmp/roll_b")
    try {
      def srvQ(roll: String) = SummaryRewrite.hdrQuantiles(spark, roll,
        Seq("flag"), "lat", Seq((50L, 100L), (99L, 100L)))
      def srvF(roll: String) = SummaryRewrite.approxFreq(spark, roll,
        Seq(), "uid", (0L until 100L))
      srvQ(s"$tmp/roll_s").collect(); srvQ(s"$tmp/roll_b").collect()
      val tS = timedSecs { srvQ(s"$tmp/roll_s").collect() }
      val tB = timedSecs { srvQ(s"$tmp/roll_b").collect() }
      val r = ratio(tB, tS)
      info(f"hdr serve 50k-base: $tS%.2f s, 500k-base: $tB%.2f s, " +
        f"growth $r%.1fx")
      assertPerf(r < 3.0, f"10x base grew hdr serving $r%.1fx")
      srvF(s"$tmp/roll_s").collect(); srvF(s"$tmp/roll_b").collect()
      val fS = timedSecs { srvF(s"$tmp/roll_s").collect() }
      val fB = timedSecs { srvF(s"$tmp/roll_b").collect() }
      val rf = ratio(fB, fS)
      info(f"cms serve 50k-base: $fS%.2f s, 500k-base: $fB%.2f s, " +
        f"growth $rf%.1fx")
      assertPerf(rf < 3.0, f"10x base grew cms serving $rf%.1fx")
      // and the served values track the base exactly: p50 of the big
      // base's lat distribution within the 2^-5 relative bound
      val p50 = srvQ(s"$tmp/roll_b").orderBy($"flag").collect()
        .head.getLong(1)
      val exact = spark.read.parquet(dirB).where($"flag" === "f0")
        .selectExpr("percentile(lat, 0.5)").collect().head.getDouble(0)
      assert(p50 <= exact && exact - p50 <= math.max(1.0, exact / 32),
        s"p50=$p50 exact=$exact")
    } finally {
      SummaryRewrite.unregister(spark, dirS)
      SummaryRewrite.unregister(spark, dirB)
    }
  }

  test("edit-distance join grows sub-quadratically from 5k to 50k " +
      "strings and finds every planted typo pair") {
    // pseudo-random 13-char strings fully determined by id, plus
    // planted single-char typos (id+1M = id with one char replaced)
    def strs(n: Long, typos: Long): DataFrame = {
      val mk = "concat('str', lpad(cast(pmod(xxhash64(%s), " +
        "10000000000) as string), 10, '0'))"
      val base = spark.range(n)
        .select(expr(mk.format("id")).as("s"))
      val dup = spark.range(typos)
        .select(expr("concat(substring(" + mk.format("id") +
          ", 1, 7), 'X', substring(" + mk.format("id") + ", 9))")
          .as("s"))
      base.unionByName(dup).repartition(32)
    }
    def run(n: Long): Double = timedSecs {
      EditDistanceJoin.pairs(strs(n, 50), "s", 1).count()
    }
    run(5000L) // warm
    val tS = run(5000L)
    val tB = run(50000L)
    val r = ratio(tB, tS)
    info(f"editdist 5k: $tS%.1f s, 50k: $tB%.1f s, growth $r%.1fx")
    assertPerf(r < 30.0, f"10x strings grew $r%.1fx — quadratic")
    // every planted typo is found (other legit ed=1 pairs may exist
    // among the pseudo-random strings; the planted ones are a lower
    // bound and each must be present)
    val found = EditDistanceJoin.pairs(strs(5000, 50), "s", 1)
      .collect().map(r0 => Set(r0.getString(0), r0.getString(1)))
      .toSet
    val origs = spark.range(50).select(expr(
      "concat('str', lpad(cast(pmod(xxhash64(id), 10000000000) " +
        "as string), 10, '0'))").as("s"))
      .collect().map(_.getString(0))
    origs.foreach { o =>
      val typo = o.substring(0, 7) + "X" + o.substring(8)
      assert(found.contains(Set(o, typo)),
        s"planted pair ($o, $typo) missing")
    }
  }
}
