package graft.operators

import graft.SparkSuite
import graft.functions.{TextFunctions => T}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val docsData = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bend"),
    (2L, "completely different content about spark query engines and scale"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (4L, "")
  )
  private def docs = docsData.toDF("doc_id", "text")

  test("exactGroups collapses identical texts to min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(g(0L) === (0L, 2L) && g(3L) === (0L, 2L))
    assert(g(1L) === (1L, 1L) && g(2L) === (2L, 1L))
  }

  test("clusterRepresentatives keeps the highest score per cluster, " +
      "ties to smallest id, unpaired docs always kept") {
    // cluster {1,2,3} (scores 5,9,9 → 2 wins the tie with 3),
    // cluster {7,8} (scores 4,1 → 7), doc 99 unpaired
    val d = Seq((1L, 5L), (2L, 9L), (3L, 9L), (7L, 4L), (8L, 1L),
      (99L, 0L)).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("i", "j")
    val out = Dedup.clusterRepresentatives(d, "id", "score", pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    assert(out(1L) === (1L, 0) && out(2L) === (1L, 1) &&
      out(3L) === (1L, 0))
    assert(out(7L) === (7L, 1) && out(8L) === (7L, 0))
    assert(out(99L) === (99L, 1))
  }

  test("word_shingles produces distinct n-grams; short text → empty") {
    val sh = Seq(("a b c d", 1L), ("a b", 2L)).toDF("text", "id")
      .select(T.word_shingles($"text", 3).as("s"))
      .as[Seq[String]].collect()
    assert(sh(0) === Seq("a b c", "b c d"))
    assert(sh(1) === Seq.empty)
  }

  test("jaccardPairs finds near-identical pair and exact-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, tau = 0.5)
      .select($"i", $"j", $"jac").as[(Long, Long, Double)].collect().toSet
    val keys = pairs.map(p => (p._1, p._2))
    assert(keys.contains((0L, 3L))) // identical → jac 1.0
    assert(keys.contains((0L, 1L)) && keys.contains((1L, 3L))) // one-word diff
    assert(!keys.exists(k => k._1 == 2L || k._2 == 2L))
    assert(pairs.find(p => (p._1, p._2) == (0L, 3L)).get._3 === 1.0)
  }

  test("minhashDupPairs agrees with exact jaccardPairs on this data") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashDupPairs(docs, "doc_id", "text", 3, 128, 16, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(mh === exact)
  }

  test("at scale (sort-merge regime) the default band df-cap adds NO " +
      "exchange — the guard's window rides the band join's own shuffle") {
    // On broadcast-sized corpora the unguarded band join has no
    // shuffle at all, so the window necessarily adds one per side
    // (cheap at that size). The claim that matters for 100 TB is the
    // SMJ regime, where both sides shuffle on (band, bkey) anyway:
    // emulate it by disabling broadcast joins for plan construction.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(cap: Option[Int]): (Int, String) = {
        // the uncached plan: the memoized entry point persists its
        // result, which would hide the join's exchanges behind an
        // InMemoryTableScan
        val plan = Dedup.minhashDupPairsUncached(docs, "doc_id", "text",
          3, 128, 16, 0.5, 42L, maxBandDocFreq = cap)
          .queryExecution.executedPlan.toString
        ("Exchange hashpartitioning".r.findAllIn(plan).length, plan)
      }
      val (unguarded, _) = exchanges(None)
      val (guarded, gplan) = exchanges(Some(1000))
      assert(guarded === unguarded,
        s"guard added ${guarded - unguarded} exchange(s):\n$gplan")
      assert(gplan.contains("Window"), "guard's window count missing")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("minhash default banding recovers BORDERLINE pairs (jac ~ tau)") {
    // Pairs engineered to sit just above tau=0.5 — the regime where
    // 16x8 banding had only ~6% recall. Sliding 40-word windows over a
    // shared word sequence: (0,1) overlap 26/50 → jac 0.52; (1,2)
    // 25/46 → 0.543; (0,2) 13/58 → 0.224 (below tau, must be
    // excluded).
    val words = (0 until 60).map(i => s"w$i")
    val mk = (lo: Int, hi: Int) => words.slice(lo, hi).mkString(" ")
    val d = Seq(
      (0L, mk(0, 40)),   // shingles s0..s37 (38)
      (1L, mk(12, 52)),  // shingles s12..s49 (38)
      (2L, mk(25, 60)),  // shingles s25..s57 (33)
      (3L, mk(0, 40))    // exact dup of 0
    ).toDF("doc_id", "text")
    val exact = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    // sanity: the borderline pair IS in the exact set
    assert(exact.contains((0L, 1L)) && exact.contains((0L, 3L)))
    // default banding (64 x 2) + signature prefilter must match exactly
    val mh = Dedup.minhashDupPairs(d, "doc_id", "text", n = 3, tau = 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(mh === exact)
  }

  test("minhash drops shingle-less docs instead of banding them together") {
    // docs with < n words hash to empty shingle sets; they must not
    // pair with each other (empty signatures would otherwise collide
    // in every band)
    val d = Seq((0L, "a b"), (1L, "x y"), (2L, ""),
      (3L, "the quick brown fox jumps"), (4L, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashDupPairs(d, "doc_id", "text", 3, 128, 64, 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(mh === Set((3L, 4L)))
  }

  test("jaccardPairs with maxShingleFreq drops hot-shingle contribution") {
    // all three docs share shingle "x y z"; cap=2 removes it
    val d = Seq((0L, "x y z a"), (1L, "x y z b"), (2L, "x y z c"))
      .toDF("doc_id", "text")
    val noCap = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.1, None).count()
    val cap = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.1, Some(2)).count()
    assert(noCap === 3L && cap === 0L)
  }

  test("join-based rare-first ordering (dict over cap) matches dict path") {
    // Force the distributed ordering path by setting the driver
    // dictionary cap to 0 — the output contract is identical to the
    // broadcast-dictionary path. Fixture is unique to this test so the
    // plan-keyed memo cannot serve a dict-path result.
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (12L, "totally unrelated words about distributed query planning"),
      (13L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    Dedup.dictCapOverride = Some(0L)
    try {
      val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, tau = 0.5)
        .select($"i", $"j", $"jac").as[(Long, Long, Double)].collect().toSet
      val keys = pairs.map(p => (p._1, p._2))
      assert(keys === Set((10L, 11L), (10L, 13L), (11L, 13L)))
      assert(pairs.find(p => (p._1, p._2) == (10L, 13L)).get._3 === 1.0)
    } finally Dedup.dictCapOverride = None
  }

  test("join-based ordering honors maxShingleFreq cap") {
    val d = Seq((20L, "p q r s"), (21L, "p q r t"), (22L, "p q r u"))
      .toDF("doc_id", "text")
    Dedup.dictCapOverride = Some(0L)
    try {
      // all three docs share shingle "p q r"; cap=2 removes it
      val capped = Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.1, Some(2))
        .count()
      assert(capped === 0L)
    } finally Dedup.dictCapOverride = None
  }

  test("simhashDupPairs: near-identical texts have small hamming") {
    // 100-token docs where one token differs: simhash margins are wide
    // enough that the diff flips only a few bits (hamming 5 here).
    val base = (0 until 100).map(i => s"tok$i")
    val longDocs = Seq(
      (0L, base.mkString(" ")),
      (1L, base.updated(50, "changed").mkString(" ")),
      (2L, (0 until 100).map(i => s"other$i").mkString(" ")),
      (3L, base.mkString(" "))
    ).toDF("doc_id", "text")
    val r = Dedup.simhashDupPairs(longDocs, "doc_id", "text", maxHamming = 8)
      .select($"i", $"j", $"hamming").as[(Long, Long, Int)].collect()
    val m = r.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((0L, 3L)) === 0) // identical text → identical simhash
    assert(m.contains((0L, 1L)) && m((0L, 1L)) <= 8)
    assert(!m.contains((0L, 2L)) && !m.contains((1L, 2L)))
  }

  test("embedding LSH finds genuinely near vectors with high recall") {
    val rnd = new scala.util.Random(7)
    def unit(dim: Int): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def perturb(v: Array[Float], eps: Float): Array[Float] = {
      val w = v.map(x => x + eps * rnd.nextGaussian().toFloat)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum).toFloat
      w.map(_ / n)
    }
    val base = (0 until 50).map(_ => unit(32))
    // ids 1000+i are near-dups of i (cos_dist ~ 0.005)
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v), (1000L + i, perturb(v, 0.05f)))
    }
    val df = rows.toDF("id", "vec")
    val exact = Dedup.embeddingDupPairs(df, "id", "vec", 0.05)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(exact.size >= 45) // the planted pairs
    val lsh = Dedup.embeddingDupPairsLsh(df, "id", "vec", 0.05,
      numBits = 12, probes = 6).select($"i", $"j")
      .as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact)) // verification removes false positives
    assert(lsh.size >= (exact.size * 0.8).toInt) // high recall
  }

  test("embeddingDupPairs refuses corpora above the O(n²) guard and " +
      "names the LSH scale path") {
    val df = (0 until 20).map(i => (i.toLong, Array.fill(4)(i.toFloat)))
      .toDF("id", "vec")
    Dedup.exactEmbDupMaxRowsOverride = Some(10L)
    try {
      val e = intercept[IllegalArgumentException] {
        Dedup.embeddingDupPairs(df, "id", "vec", 0.5)
      }
      assert(e.getMessage.contains("embeddingDupPairsLsh"))
      assert(e.getMessage.contains("O(n²)"))
    } finally Dedup.exactEmbDupMaxRowsOverride = None
    // under the default guard the same corpus plans normally
    assert(Dedup.embeddingDupPairs(df, "id", "vec", 0.5).columns
      .toSeq === Seq("i", "j", "cd"))
  }

  test("rolling_fingerprint is stable and shift-tolerant") {
    // The fingerprint is the min rolling hash over 16-byte windows; a
    // long shared core dominates, so near-identical docs collide.
    val core = "the shared core content block which is quite long " +
      "and stable across documents " * 3
    val d = Seq(
      ("alpha " + core, 1L),
      ("omega intro " + core, 2L),
      ("entirely unrelated text with nothing shared at all ok", 3L)
    ).toDF("text", "id")
    val fps = d.select($"id", T.rolling_fingerprint($"text", 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    // min-of-rolling-hash over a shared 16-byte window → equal fingerprints
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("crossCorpusDupPairs matches the cross slice of exact pairs") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val incoming = corpus.where($"doc_id" % 5 === 0)
    val existing = corpus.where($"doc_id" % 5 =!= 0)
    val cross = Dedup.crossCorpusDupPairs(existing, incoming,
      "doc_id", "text", n = 3, tau = 0.5)
      .select($"new_id", $"old_id").as[(Long, Long)].collect().toSet
    // ground truth: full exact pair set restricted to cross-side pairs
    val full = Dedup.jaccardPairs(corpus, "doc_id", "text", n = 3,
      tau = 0.5).select($"i", $"j").as[(Long, Long)].collect()
    val expected = full.flatMap { case (i, j) =>
      if (i % 5 == 0 && j % 5 != 0) Some((i, j))
      else if (j % 5 == 0 && i % 5 != 0) Some((j, i))
      else None
    }.toSet
    assert(cross === expected)
    assert(cross.nonEmpty, "fixture should contain cross-side dups")
    // survivors = incoming minus flagged new ids, nothing else dropped
    val survivors = Dedup.dedupAgainst(existing, incoming, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val incomingIds = incoming.select($"doc_id").as[Long].collect().toSet
    assert(survivors === incomingIds -- cross.map(_._1))
  }

  test("bloom-pruned crossCorpusDupPairs returns identical pairs and " +
      "prunes the resident band relation before its exchange") {
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val incoming = corpus.where($"doc_id" % 5 === 0)
    val existing = corpus.where($"doc_id" % 5 =!= 0)
    def pairs(strategy: String) = {
      val r = Dedup.crossCorpusDupPairs(existing, incoming,
        "doc_id", "text", n = 3, tau = 0.5, strategy = strategy)
      (r, r.select($"new_id", $"old_id").as[(Long, Long)]
        .collect().toSet)
    }
    val (_, auto) = pairs("auto")
    Dedup.releaseCaches()
    val (bloomQ, bloom) = pairs("bloom")
    assert(bloomQ.queryExecution.executedPlan.toString
      .contains("bloom_might_contain"),
      "resident band rows must be bloom-pruned")
    assert(bloom === auto)
    assert(bloom.nonEmpty)
    Dedup.releaseCaches()
  }

  test("semDedup: drops exactly the non-min members of near-dup pairs") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Dedup.semDedup(emb, "vec_id", "embedding",
      anchors = emb.where($"vec_id" < 8), "vec_id", "embedding",
      eps = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == emb.count())
    val cluster = out.map(t => t._1 -> t._2).toMap
    val keep = out.map(t => t._1 -> t._3).toMap
    // recompute ground truth with the exact pair primitive, restricted
    // to same-cluster pairs
    val pairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding",
      tau = 0.55)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (i, j) => cluster(i) == cluster(j) }
    val expectedDrops = pairs.map(_._2).toSet
    assert(out.filter(_._3 == 0).map(_._1).toSet === expectedDrops)
    assert(expectedDrops.nonEmpty, "fixture should contain emb dups")
    // every vector is assigned to its genuinely nearest anchor
    val anchors = emb.where($"vec_id" < 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      1 - dot / math.sqrt(na * nb)
    }
    emb.collect().foreach { r =>
      val id = r.getLong(0); val v = r.getSeq[Float](1).toArray
      val best = anchors.map { case (aid, av) => (cos(v, av), aid) }.min._2
      assert(cluster(id) == best, s"vec $id assigned ${cluster(id)} != $best")
    }
    assert(keep.values.count(_ == 0) > 0)
  }

  test("releaseCaches unpersists only the dedup-created relations — " +
      "a foreign component's cache survives") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    Dedup.releaseCaches()
    // a foreign cache, standing in for e.g. an HttpApi survivor view
    val foreign = docs.where($"doc_id" < 50)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    foreign.count()
    // caches other suites left behind, plus the foreign one
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try {
      Dedup.minhashDupPairs(docs, "doc_id", "text", tau = 0.5).count()
      val cachedDuring = spark.sparkContext.getPersistentRDDs.size
      assert(cachedDuring >= 2,
        s"expected dedup + foreign caches, saw $cachedDuring")
      Dedup.releaseCaches()
      assert(foreign.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "foreign cache must survive a dedup release")
      // re-running after a release still works (memos rebuilt)
      assert(Dedup.minhashDupPairs(docs, "doc_id", "text", tau = 0.5)
        .count() > 0)
      Dedup.releaseCaches()
      // the memo hit after the first release re-persisted its relation;
      // the second release must free it too
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"dedup caches survived a release: $leaked")
      assert(foreign.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE)
    } finally foreign.unpersist()
  }

  test("containmentPairs finds the excerpt Jaccard misses, both " +
      "directions for exact dups, and is exact vs the naive join") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo"
    val d = Seq(
      (0L, base),                          // long document
      (1L, "alpha bravo charlie delta echo foxtrot"), // strict excerpt
      (2L, base),                          // exact dup of 0
      (3L, "unrelated words entirely separate content here now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text", n = 3, tau = 0.8)
      .select($"i", $"j", $"cont").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    // the excerpt: all of 1's shingles appear in 0 → cont(1→0) = 1;
    // the reverse direction fails the bar (0 is much longer)
    assert(got((1L, 0L)) === 1.0)
    assert(!got.contains((0L, 1L)))
    // exact dups contain each other
    assert(got((0L, 2L)) === 1.0 && got((2L, 0L)) === 1.0)
    assert(got((1L, 2L)) === 1.0)
    assert(!got.keys.exists(k => k._1 == 3L || k._2 == 3L))
    // Jaccard at the same tau misses the excerpt pair entirely
    val jac = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, tau = 0.8)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 0L)) && !jac.contains((0L, 1L)))
  }

  test("containmentAgainst: incoming excerpts of resident docs found, " +
      "cross pairs only, nothing within a side") {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa"
    val existing = Seq((10L, base),
      (11L, "totally different resident content here now"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "alpha bravo charlie delta echo foxtrot"), // excerpt of 10
      (21L, "unrelated incoming words entirely separate"),
      (22L, "unrelated incoming words entirely separate") // dup of 21
    ).toDF("doc_id", "text")
    val got = Dedup.containmentAgainst(existing, incoming,
        "doc_id", "text", n = 3, tau = 0.8)
      .select($"new_id", $"old_id", $"cont")
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3)
      .toMap
    assert(got === Map((20L, 10L) -> 1.0),
      s"expected exactly the excerpt pair, got $got")
  }

  test("sortedNeighborhoodPairs: prefix-sharing dups caught with " +
      "exact jaccard, prefix-divergent dups missed by construction") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (2L, "a completely different document about query engines at scale"),
      // same content as 0 but prefixed — lands in another block, so
      // SNM must miss it even though jaccard would not
      (3L, "PREFIX the quick brown fox jumps over the lazy dog near the river bank")
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(d, "doc_id", "text",
        n = 3, tau = 0.5, blockChars = 8, window = 5)
      .select($"i", $"j", $"jac").as[(Long, Long, Double)]
      .collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(got.contains((0L, 1L)), s"prefix-sharing near-dup missed: $got")
    assert(got((0L, 1L)) > 0.5 && got((0L, 1L)) < 1.0)
    assert(!got.keys.exists(k => k._1 == 3L || k._2 == 3L),
      "SNM must not see across blocks — that regime belongs to MinHash")
    assert(!got.keys.exists(k => k._1 == 2L || k._2 == 2L))
  }

  test("lshTuneGrid: exact factorizations only, monotone s_mid, and " +
      "the 64x2 production choice is on the efficient frontier") {
    val rows = Dedup.lshTuneGrid(spark, threshold = 0.5, numHashes = 128)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8, 16, 32, 64, 128))
    assert(rows.forall { case (r, b, _, _, _, _) => r * b == 128 })
    // s_mid rises with r: more rows per band shifts the S-curve right
    assert(rows.map(_._3).toSeq === rows.map(_._3).sorted.toSeq)
    // r=1 (128 bands of 1): everything collides → huge FP, no FN
    val r1 = rows.find(_._1 == 1).get
    assert(r1._4 > 0.4 && r1._5 < 0.01)
    // r=128: almost nothing collides → huge FN
    val r128 = rows.find(_._1 == 128).get
    assert(r128._5 > 0.4 && r128._4 < 0.01)
    // the production 64x2 has a mid s_mid and materially lower cost
    // than either extreme
    val r2 = rows.find(_._1 == 2).get
    assert(r2._2 === 64)
    assert(r2._6 < r1._6 && r2._6 < r128._6)
  }
}
