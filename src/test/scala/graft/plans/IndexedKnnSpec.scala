package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.{VectorFunctions => V}
import graft.operators.IvfIndex
import graft.operators.IvfIndex.StorageKind

/** The planner-transparent ANN rewrite: `ORDER BY dist LIMIT k` over a
  * registered table must become an IVF probe (no corpus scan, cell
  * PartitionFilters), be EXACT under full probe, prune under partial
  * probe, and leave every non-matching shape untouched.
  */
class IndexedKnnSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dataPath = s"$sf0001/embeddings.parquet"
  private lazy val emb = spark.read.parquet(dataPath)
  private lazy val idxDir = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_idxknn_spec").toString
    IvfIndex.build(emb, "vec_id", "embedding", nCells = 8, maxIter = 5,
      indexDir = Some(d))
    d
  }
  private lazy val qvec: Seq[Float] =
    emb.where($"vec_id" === 0).select($"embedding")
      .head.getSeq[Float](0)

  private def knnQuery(k: Int) =
    emb.select($"vec_id",
        V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
      .orderBy($"dist").limit(k)

  private def registered[A](nprobe: Int)(f: => A): A = {
    IndexedKnn.register(spark, dataPath, idxDir, "vec_id", "embedding",
      nprobe = nprobe)
    try f finally IndexedKnn.unregister(spark, dataPath)
  }

  test("full-probe rewrite returns exactly the brute-force top-k and " +
      "scans the index, not the corpus") {
    val exact = knnQuery(10).collect().map(r => (r.getLong(0),
      math.rint(r.getDouble(1) * 1e4) / 1e4)).toSeq
    registered(nprobe = 0) {
      val df = knnQuery(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
      assert(plan.contains("PartitionFilters") &&
        plan.contains("cell_id"), s"no cell pruning:\n$plan")
      val got = df.collect().map(r => (r.getLong(0),
        math.rint(r.getDouble(1) * 1e4) / 1e4)).toSeq
      assert(got === exact)
    }
  }

  test("partial probe prunes cells and still finds the query point " +
      "itself") {
    registered(nprobe = 2) {
      val df = knnQuery(5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"))
      // 2 probed cells of 8 -> an IN filter materially narrower than
      // the full cell list
      assert(plan.contains("PartitionFilters"))
      val got = df.collect()
      assert(got.length === 5)
      // vec_id 0 IS the query vector: distance 0, must be rank 1 even
      // under partial probing (its own cell is always probed)
      assert(got.head.getLong(0) === 0L &&
        got.head.getDouble(1) === 0.0)
      // ascending order preserved by the retained Sort
      val dists = got.map(_.getDouble(1)).toSeq
      assert(dists === dists.sorted)
    }
  }

  test("range rewrite: WHERE dist <= r over a registered table becomes " +
      "the cell-pruned range probe; < vs <= survives; exact at full " +
      "probe") {
    def rangeQuery(op: (org.apache.spark.sql.Column, Double) =>
        org.apache.spark.sql.Column, r: Double) =
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .where(op($"dist", r))
    val exactLe = rangeQuery(_ <= _, 1.5).collect()
      .map(_.getLong(0)).toSet
    val exactLt = rangeQuery(_ < _, 1.5).collect()
      .map(_.getLong(0)).toSet
    registered(nprobe = 0) {
      val before = IndexedKnnRule.fireCount.get()
      val df = rangeQuery(_ <= _, 1.5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
      assert(df.collect().map(_.getLong(0)).toSet === exactLe)
      assert(IndexedKnnRule.fireCount.get() === before + 1)
      // strict < keeps its own semantics (re-applied on the computed
      // distance above the probe)
      assert(rangeQuery(_ < _, 1.5).collect()
        .map(_.getLong(0)).toSet === exactLt)
      // the query point itself (dist 0) is always in range
      assert(rangeQuery(_ <= _, 0.001).collect()
        .map(_.getLong(0)).toSet === Set(0L))
    }
    // unregistered: same results, no rewrite
    assert(rangeQuery(_ <= _, 1.5).collect()
      .map(_.getLong(0)).toSet === exactLe)
  }

  test("partial-probe range prunes cells at the storage layer") {
    registered(nprobe = 2) {
      spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
      val df = emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .where($"dist" <= 1.5)
      val plan = df.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
        .findFirstIn(plan).isDefined, s"no cell pruning:\n$plan")
      // approximate but sound: a subset of the exact range set, and
      // the query point's own cell is always probed
      val ids = df.collect().map(_.getLong(0)).toSet
      assert(ids.contains(0L))
    }
  }

  test("a rounding projection pushed between limit and sort still " +
      "rewrites") {
    registered(nprobe = 0) {
      val df = knnQuery(10).select($"vec_id",
        round($"dist", 4).as("dist"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
    }
  }

  test("non-matching shapes are left untouched") {
    registered(nprobe = 0) {
      // extra payload column -> needs a fetch-back join, must not fire
      val payload = emb.select($"vec_id", $"embedding",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist").limit(5)
      assert(payload.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      // descending sort (farthest) is not a nearest-neighbor query
      val desc = emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist".desc).limit(5)
      assert(desc.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      // no limit -> full sorted result, k unknown
      val noLimit = knnQuery(10).queryExecution // limit present: fires
      val unlimited = emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist")
      assert(unlimited.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      // distance to a non-constant (self-join shape): no literal, no fire
      val nonConst = emb.select($"vec_id",
          V.l2sq_dist($"embedding", $"embedding").as("dist"))
        .orderBy($"dist").limit(5)
      assert(nonConst.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      noLimit.executedPlan // silence unused
    }
  }

  test("re-registration after a rebuild drops the memoized model " +
      "(no stale file listing)") {
    val d = java.nio.file.Files
      .createTempDirectory("graft_idxknn_rebuild").toString
    // fixed centroids: buildWithCentroids is unmemoized and rewrites
    // the target dir on every call — the stale-listing trap
    val cents = emb.orderBy($"vec_id").limit(4)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      indexDir = Some(d))
    IndexedKnn.register(spark, dataPath, d, "vec_id", "embedding",
      nprobe = 0)
    try {
      assert(knnQuery(5).collect().length === 5) // memoizes the model
      // rebuild deletes the part files the memoized listing points at
      IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
        indexDir = Some(d))
      IndexedKnn.register(spark, dataPath, d, "vec_id", "embedding",
        nprobe = 0)
      // must reload, not throw FileNotFoundException off stale paths
      assert(knnQuery(5).collect().length === 5)
    } finally IndexedKnn.unregister(spark, dataPath)
  }

  test("the rule fires exactly once per query: the probe-plan " +
      "optimization is latched out and never recurses") {
    registered(nprobe = 0) {
      IndexedKnnRule.fireCount.set(0)
      val df = knnQuery(5)
      assert(!df.queryExecution.executedPlan.toString
        .contains("embeddings.parquet"))
      assert(df.collect().length === 5)
      // one rewrite for the outer query; the inner IvfIndex.search
      // plan is optimized on the same thread while the latch is held,
      // so it contributes zero fires even though the table stays
      // registered throughout
      assert(IndexedKnnRule.fireCount.get() === 1)
    }
  }

  test("index lifecycle: reindex rebuilds from the current corpus " +
      "with an atomic dir swap; drop falls back to brute force") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_idxknn_corpus").toString
    val lcIdx = java.nio.file.Files
      .createTempDirectory("graft_idxknn_lc").toString + "/idx"
    emb.limit(400).select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(corpusDir)
    def corpus = spark.read.parquet(corpusDir)
    IvfIndex.build(corpus, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(lcIdx))
    IndexedKnn.register(spark, corpusDir, lcIdx, "vec_id", "embedding",
      nprobe = 0, name = "lcidx")
    try {
      assert(IndexedKnn.listIndexes().exists(i =>
        i.name == "lcidx" && i.indexDir == lcIdx))
      val far: Seq[Float] = Seq.fill(qvec.length)(50.0f)
      def top1 = corpus.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(far)).as("dist"))
        .orderBy($"dist").limit(1)
      // the far-away row is not in the corpus yet
      val before = top1
      assert(!before.queryExecution.executedPlan.toString
        .contains("graft_idxknn_corpus"), "not rewritten pre-append")
      assert(before.head.getLong(0) !== 99999L)
      // append the row; the index SNAPSHOT still cannot see it
      import spark.implicits._
      Seq((99999L, far)).toDF("vec_id", "embedding")
        .write.mode("append").parquet(corpusDir)
      assert(top1.head.getLong(0) !== 99999L,
        "index snapshot must not see post-build appends")
      // one-call reindex: fresh k-means over the CURRENT corpus,
      // atomic swap at the same dir, re-register
      IndexedKnn.reindex(spark, "lcidx")
      val after = top1
      assert(!after.queryExecution.executedPlan.toString
        .contains("graft_idxknn_corpus"), "still index-served")
      assert(after.head.getLong(0) === 99999L)
      assert(after.head.getDouble(1) === 0.0)
      // drop: artifact gone, rule no longer fires, brute force finds it
      IndexedKnn.dropIndex(spark, "lcidx")
      assert(!new java.io.File(lcIdx).exists())
      assert(IndexedKnn.listIndexes().forall(_.name != "lcidx"))
      val fallback = top1
      assert(fallback.queryExecution.executedPlan.toString
        .contains("graft_idxknn_corpus"), "must scan the corpus again")
      assert(fallback.head.getLong(0) === 99999L)
    } finally IndexedKnn.unregister(spark, corpusDir)
  }

  test("reindex crash window: a kill between the two swap renames is " +
      "healed on the next register/load — old index served intact") {
    val corpusDir = java.nio.file.Files
      .createTempDirectory("graft_ikc_corpus").toString
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ikc_index").toString + "/idx"
    emb.limit(400).select($"vec_id", $"embedding")
      .write.mode("overwrite").parquet(corpusDir)
    val corpus = spark.read.parquet(corpusDir)
    IvfIndex.build(corpus, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(idx))
    IndexedKnn.register(spark, corpusDir, idx, "vec_id", "embedding",
      nprobe = 0, name = "crashidx")
    try {
      def top5 = corpus.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist").limit(5)
      val want = top5.collect().map(_.getLong(0)).toSeq
      // Simulate reindex dying between its two renames: live → .old
      // done, the fresh build still parked at .rebuild, live MISSING.
      val conf = spark.sessionState.newHadoopConf()
      val livePath = new org.apache.hadoop.fs.Path(idx)
      val fs = livePath.getFileSystem(conf)
      assert(fs.rename(livePath,
        new org.apache.hadoop.fs.Path(idx + ".old")))
      fs.mkdirs(new org.apache.hadoop.fs.Path(idx + ".rebuild"))
      // a fresh session after the crash: no memoized model, re-register
      IndexedKnn.clear()
      IndexedKnn.register(spark, corpusDir, idx, "vec_id", "embedding",
        nprobe = 0, name = "crashidx")
      assert(fs.exists(livePath), "live index dir restored from .old")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".old")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(idx + ".rebuild")),
        "uncommitted rebuild must be discarded")
      val healed = top5
      assert(!healed.queryExecution.executedPlan.toString
        .contains("graft_ikc_corpus"), "index-served after recovery")
      assert(healed.collect().map(_.getLong(0)).toSeq === want)
    } finally IndexedKnn.unregister(spark, corpusDir)
  }

  test("unregistered tables never rewrite, and SQL text queries do") {
    // not registered at all
    val plain = knnQuery(5).queryExecution.executedPlan.toString
    assert(plain.contains("embeddings.parquet"))
    registered(nprobe = 0) {
      emb.createOrReplaceTempView("emb_idx_sql")
      val vecSql = qvec.map(v => s"CAST($v AS FLOAT)")
        .mkString("array(", ",", ")")
      val df = spark.sql(
        s"""SELECT vec_id, l2sq_dist(embedding, $vecSql) AS dist
           |FROM emb_idx_sql ORDER BY dist LIMIT 7""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"SQL shape not rewritten:\n$plan")
      assert(df.collect().length === 7)
    }
  }

  test("payload columns rewrite via fetch-back: no corpus sort, the " +
      "fetch never reads the vector column, values match brute force") {
    val brute = emb.select($"vec_id", $"label",
        V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
      .orderBy($"dist").limit(10)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        math.rint(r.getDouble(2) * 1e4) / 1e4)).toSeq
    registered(nprobe = 0) {
      val before = IndexedKnnRule.fireCount.get()
      val df = emb.select($"vec_id", $"label",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist").limit(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(IndexedKnnRule.fireCount.get() === before + 1,
        s"payload shape did not fire:\n$plan")
      // the base-table fetch reads (vec_id, label) — never the fat
      // vector column
      spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
      val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
        .filter(_.contains("label"))
      assert(reads.nonEmpty && reads.forall(!_.contains("embedding")),
        s"payload fetch reads the vector column:\n$plan")
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1),
        math.rint(r.getDouble(2) * 1e4) / 1e4)).toSeq
      assert(got === brute)
    }
    // partial probe through the payload path: still k rows, the query
    // point itself (payload intact) at rank 1
    registered(nprobe = 2) {
      val got = emb.select($"vec_id", $"label",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .orderBy($"dist").limit(5).collect()
      assert(got.length === 5)
      val self = emb.where($"vec_id" === 0).select($"label")
        .head.getInt(0)
      assert(got.head.getLong(0) === 0L && got.head.getInt(1) === self
        && got.head.getDouble(2) === 0.0)
    }
  }

  test("a bits-bearing index registered with a shortlist serves the " +
      "two-stage BQ plan; corpus-wide shortlist at full probe is exact") {
    val exact = knnQuery(10).collect().map(r => (r.getLong(0),
      math.rint(r.getDouble(1) * 1e4) / 1e4)).toSeq
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val bqDir = java.nio.file.Files
      .createTempDirectory("graft_idxknn_bq").toString + "/idx"
    IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      Some(bqDir), kind = StorageKind.Bq)
    IndexedKnn.register(spark, dataPath, bqDir, "vec_id", "embedding",
      nprobe = 0, shortlist = emb.count().toInt)
    try {
      val before = IndexedKnnRule.fireCount.get()
      val df = knnQuery(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
      // the planted plan really is two-stage: the shortlist pass scans
      // the bits column of the artifact
      assert(plan.contains("bits"), s"no BQ shortlist stage:\n$plan")
      val got = df.collect().map(r => (r.getLong(0),
        math.rint(r.getDouble(1) * 1e4) / 1e4)).toSeq
      assert(got === exact)
      assert(IndexedKnnRule.fireCount.get() === before + 1)
    } finally IndexedKnn.unregister(spark, dataPath)
  }

  test("a half-bearing (F16) index serves the plain ORDER BY spelling " +
      "from the halved artifact: no corpus scan, smallint payload, " +
      "full probe equals the f16-grid brute force") {
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val f16Dir = java.nio.file.Files
      .createTempDirectory("graft_idxknn_f16").toString + "/idx"
    IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      Some(f16Dir), kind = StorageKind.F16)
    IndexedKnn.register(spark, dataPath, f16Dir, "vec_id", "embedding",
      nprobe = 0)
    try {
      val before = IndexedKnnRule.fireCount.get()
      val df = knnQuery(10)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
      assert("ReadSchema: [^\\n]*smallint".r.findFirstIn(plan).isDefined,
        s"no half-width payload scan:\n$plan")
      // full probe == exact kNN over the f16 grid (both sides decoded)
      val dec = emb.select($"vec_id",
        V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
      val q16 = dec.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      val expect = dec.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q16)).as("dist"))
        .orderBy($"dist", $"vec_id").limit(10)
        .select($"vec_id").as[Long].collect().toSeq
      // collect from df itself: a derived .select would be a second
      // optimization pass and a second legitimate rule fire
      val got = df.collect().map(_.getLong(0)).toSeq
      assert(got === expect)
      assert(IndexedKnnRule.fireCount.get() === before + 1)
    } finally IndexedKnn.unregister(spark, dataPath)
  }

  test("the range rewrite over an F16 registration scores the halved " +
      "artifact: no corpus scan, and full probe equals the f16-grid " +
      "brute force") {
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val f16Dir = java.nio.file.Files
      .createTempDirectory("graft_idxknn_f16_range").toString + "/idx"
    IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      Some(f16Dir), kind = StorageKind.F16)
    // brute force over the f16 grid: corpus and query both decoded
    val dec = emb.select($"vec_id",
      V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
    val q16 = dec.where($"vec_id" === 0).select($"embedding")
      .head.getSeq[Float](0)
    val expect = dec
      .where(V.l2sq_dist($"embedding", typedlit(q16)) <= 1.5)
      .select($"vec_id").as[Long].collect().toSet
    assert(expect.size > 1 && expect.size < emb.count())
    IndexedKnn.register(spark, dataPath, f16Dir, "vec_id", "embedding",
      nprobe = 0)
    try {
      val before = IndexedKnnRule.fireCount.get()
      val df = emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(qvec)).as("dist"))
        .where($"dist" <= 1.5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("embeddings.parquet"),
        s"corpus still scanned:\n$plan")
      assert(df.collect().map(_.getLong(0)).toSet === expect)
      assert(IndexedKnnRule.fireCount.get() === before + 1)
    } finally IndexedKnn.unregister(spark, dataPath)
  }
}
