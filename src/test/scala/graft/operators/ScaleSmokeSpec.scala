package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Scale smoke: the LSH paths must stay near-linear where the exact
  * pairwise paths are quadratic. Synthetic 20k-doc corpus (40x the
  * sf0.1 bench corpus rows) with planted near-dups; asserts
  * correctness of the found pairs and wall-time sanity — this is the
  * evidence that the "100 TB path" operators do sub-quadratic work,
  * not a microbenchmark.
  */
class ScaleSmokeSpec extends SparkSuite {
  import spark.implicits._

  private val nDocs = 20000
  private lazy val corpus = {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 2000).map(i => s"w$i")
    val base = (0 until nDocs).map { i =>
      val words = (0 until 60).map(_ => vocab(rnd.nextInt(vocab.size)))
      (i.toLong, words.mkString(" "))
    }
    // plant 50 near-dups: doc 100k+i = doc i with one word changed
    val dups = (0 until 50).map { i =>
      val words = base(i)._2.split(' ')
      (100000L + i, words.updated(30, "CHANGED").mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
      .repartition(32)
      .persist()
  }

  test("MinHash-LSH finds all planted near-dups in a 20k corpus") {
    corpus.count()
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashDupPairs(corpus, "doc_id", "text",
      n = 3, numHashes = 128, bands = 16, tau = 0.5)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    val planted = (0 until 50).map(i => (i.toLong, 100000L + i)).toSet
    assert(planted.subsetOf(pairs),
      s"missing ${planted.diff(pairs).size} planted pairs")
    // random 60-word docs over a 2000-word vocab share few trigrams
    assert(pairs.size < planted.size + 50, s"too many pairs: ${pairs.size}")
    info(f"minhash over ${corpus.count()} docs: $secs%.1f s")
    assert(secs < 120.0)
  }

  test("SimHash banding finds the planted near-dups too") {
    val pairs = Dedup.simhashDupPairs(corpus, "doc_id", "text",
      maxHamming = 8).select($"i", $"j").as[(Long, Long)].collect().toSet
    val planted = (0 until 50).map(i => (i.toLong, 100000L + i)).toSet
    val found = planted.intersect(pairs)
    // banding is probabilistic per doc; near-total recall expected
    assert(found.size >= 45, s"recall ${found.size}/50 too low")
  }

  test("connected components scale: 60k-edge graph resolves in few rounds") {
    // 10k chains of length 3 + one 1k-member clique + 50k random edges
    // over 40k vertices — components must resolve well inside the
    // time bound (a driver union-find at this edge count).
    val rnd = new scala.util.Random(11)
    val chains = (0 until 10000).flatMap { c =>
      val b = 200000L + c * 3
      Seq((b, b + 1), (b + 1, b + 2))
    }
    val clique = (1 until 1000).map(i => (500000L, 500000L + i))
    val random = (0 until 50000).map { _ =>
      val a = rnd.nextInt(40000).toLong
      val b = rnd.nextInt(40000).toLong
      (math.min(a, b), math.max(a, b) + 1)
    }
    val t0 = System.nanoTime()
    val comp = Dedup.connectedComponents(
      (chains ++ clique ++ random).toDF("i", "j"))
    val byComp = comp.groupBy($"component").count()
    val nComponents = byComp.count()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"components over ~61k edges: $nComponents comps in $secs%.1f s")
    // every chain is its own component labeled by its head
    val chainLabels = comp.where($"id" >= 200000L && $"id" < 500000L)
      .where(($"id" - 200000L) % 3 === 0)
      .where($"component" =!= $"id").count()
    assert(chainLabels == 0, "chain heads must label their own component")
    // the clique resolves to one component under its min id
    assert(comp.where($"id" >= 500000L).where($"component" =!= 500000L)
      .count() == 0)
    assert(secs < 120.0)
  }

  test("IVF probes a fraction of a 20k-vector corpus with good recall") {
    val vecs = corpus.where($"doc_id" < 20000)
      .select($"doc_id".as("vec_id"),
        graft.functions.TextFunctions.hash_embedding($"text", 64)
          .as("embedding"))
      .persist()
    vecs.count()
    val queries = vecs.where($"vec_id" < 10)
    val model = IvfIndex.build(vecs, "vec_id", "embedding",
      nCells = 64, maxIter = 5)
    val exact = Knn.topK(vecs, queries, "vec_id", "embedding", 10)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val ivf = IvfIndex.search(model, queries, 10, nprobe = 16)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    info(f"IVF recall@10 with 16/64 cells: $recall%.2f")
    assert(recall >= 0.6)
    vecs.unpersist()
  }

  test("incremental dedup: a 1k batch joins a 20k index sub-quadratically") {
    // existing = the 20k base corpus; incoming = 1k fresh docs of which
    // 50 near-dup existing docs (the planted 100k+i variants)
    corpus.count()
    val existing = corpus.where($"doc_id" < 100000L)
    val incoming = corpus.where($"doc_id" >= 100000L)
      .union(existing.where($"doc_id" >= 19000)
        .select(($"doc_id" + 500000L).as("doc_id"),
          concat($"text", lit(" FRESHTAIL")).as("text")))
    val t0 = System.nanoTime()
    val flagged = Dedup.crossCorpusDupPairs(existing, incoming,
      "doc_id", "text", tau = 0.5)
      .select($"new_id").distinct().as[Long].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    // every planted variant is flagged against its original
    val planted = (0 until 50).map(i => 100000L + i).toSet
    assert(planted.subsetOf(flagged),
      s"missing ${planted.diff(flagged).size} planted cross-dups")
    // the +500000 FRESHTAIL rewrites share all but the tail shingle
    // with their originals — every one must be flagged too
    val rewrites = (19000 until 20000).map(i => 500000L + i).toSet
    assert(rewrites.subsetOf(flagged),
      s"missing ${rewrites.diff(flagged).size} rewrite cross-dups")
    info(f"cross-corpus dedup 1k vs 20k: $secs%.1f s")
    assert(secs < 60.0)
  }

  test("perceptual image dedup bands a 20k binary corpus " +
      "sub-quadratically (stub grid; same join as production)") {
    corpus.count()
    // media payloads = text bytes; planted 100k+i docs differ from doc
    // i by one word mid-payload, which under the stub's per-byte
    // stripe hashing decorrelates the grid — so the only guaranteed
    // hamming-0 twins are EXACT byte duplicates, planted here
    val media = corpus.select($"doc_id",
        $"text".cast("binary").as("media"))
      .union(corpus.where($"doc_id" < 50).select(
        ($"doc_id" + 900000L).as("doc_id"),
        $"text".cast("binary").as("media")))
    val t0 = System.nanoTime()
    val pairs = graft.multimodal.PerceptualHash
      .imageDupPairs(media, "doc_id", "media", maxHamming = 3)
      .select($"i", $"j").as[(Long, Long)].collect().toSet
    val secs = (System.nanoTime() - t0) / 1e9
    val planted = (0 until 50).map(i => (i.toLong, 900000L + i)).toSet
    assert(planted.subsetOf(pairs),
      s"missing ${planted.diff(pairs).size} planted byte-dups")
    info(f"image dedup over ${media.count()} payloads: $secs%.1f s")
    assert(secs < 60.0)
  }
}
