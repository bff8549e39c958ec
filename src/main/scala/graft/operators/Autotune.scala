package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType,
  StructField, StructType}

/** Index-autotune analog (SURVEY §2.11 X4-X9,
  * `lantern_cli/src/index_autotune/`). The sweeps:
  *
  *   - [[run]] keeps the reference's published HNSW grid API-compatible
  *     (Spark has no online HNSW — north star — so each variant
  *     measures the EXACT top-k path; recall is always 100).
  *   - [[runIvf]] targets the index family that actually exists here:
  *     (nCells, nprobe) over IVF, the axes governing its
  *     recall/latency/build trade; [[runBq]] and [[runKinds]] sweep
  *     the BQ shortlist and the storage kinds.
  *
  * The timed sweeps run one search per variant, because per-variant
  * latency is their output. Their recall axes ([[ivfRecallGrid]],
  * [[bqRecallGrid]], [[kindsRecallGrid]]) have no latency column, so
  * each scores its whole grid from one probe-ranked scan of an
  * in-memory assignment and writes no index.
  *
  * Grid iteration, early-stop, best-variant selection, and the
  * results schema mirror the reference throughout.
  */
object Autotune {

  // Sampled (corpus, queries, ground truth) memo for the IVF sweep,
  // keyed by input plan + sample params — the reference caches its
  // autotune sample table the same way (`index_autotune/mod.rs:39-68`)
  // so repeated sweeps over one corpus (bench reps, a daemon re-tune)
  // pay the sample + brute-force truth once per JVM, not per call.
  // Reusing the SAME corpus DataFrame also keeps IvfIndex.build's
  // plan-keyed memo hitting across calls.
  private val sampleMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String, Int, Int, Int, String),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      DataFrame, DataFrame, DataFrame)]()

  private def ivfSample(df: DataFrame, idCol: String, vecCol: String,
      sampleN: Int, nQueries: Int, k: Int, metric: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val plan = df.queryExecution.optimizedPlan
    val key = (plan.semanticHash(), idCol, vecCol, sampleN, nQueries,
      k, metric)
    val hit = sampleMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2.sparkSession eq df.sparkSession))
      return (hit._2, hit._3, hit._4)
    val corpus = df.select(col(idCol), col(vecCol)).limit(sampleN)
      .cache()
    val queries = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nQueries).cache()
    val truth = Knn.topK(corpus, queries, idCol, vecCol, k, metric)
      .cache()
    truth.count()
    if (sampleMemo.size >= 8) releaseSamples()
    sampleMemo.put(key, (plan, corpus, queries, truth))
    (corpus, queries, truth)
  }

  /** Unpersist and forget every memoized autotune sample (the targeted
    * release for long-lived shared sessions, mirroring
    * `Dedup.releaseCaches`). Correctness never depends on the memo —
    * a fresh call re-derives from lineage.
    */
  def releaseSamples(): Unit = {
    val it = sampleMemo.values().iterator()
    while (it.hasNext) {
      val (_, c, q, t) = it.next()
      t.unpersist(); q.unpersist(); c.unpersist()
    }
    sampleMemo.clear()
  }

  /** Materialize a variant's search result and report the wall time
    * of the SEARCH ALONE: the result is persisted and counted inside
    * the timed window, so the recall computation (ground-truth join +
    * aggregate) that follows reuses the cached rows and never
    * contaminates the latency column — the reference times the top-k
    * query itself, not the truth comparison
    * (`index_autotune/mod.rs:230-236`; the r9 sweeps timed the lazy
    * search THROUGH the recall join, inflating every latency row by
    * truth-join cost). Callers unpersist after the recall read.
    */
  private[operators] def timedSearch(mk: => DataFrame)
      : (DataFrame, Double) = {
    val t0 = System.nanoTime()
    val res = mk
    res.persist()
    res.count()
    (res, (System.nanoTime() - t0) / 1e6)
  }

  private def recallPct(truth: DataFrame, res: DataFrame, k: Int)
      : Double =
    Knn.recall(truth, res, k)
      .agg(avg(col("recall"))).head().getDouble(0) * 100.0

  /** The published tuning grid (`index_autotune/mod.rs:329-360`). */
  case class Variant(m: Int, efConstruction: Int, ef: Int)
  val grid: Seq[Variant] = Seq(
    Variant(6, 32, 64), Variant(8, 40, 64), Variant(12, 48, 64),
    Variant(16, 60, 76), Variant(32, 96, 96), Variant(48, 128, 128))

  case class Result(experimentId: Int, m: Int, efConstruction: Int,
      ef: Int, recall: Double, latencyMs: Double, buildTimeMs: Double)

  /** X4-X7: sample corpus, 10 query points, k-NN recall/latency per
    * variant; early stop at recall >= 99.9 (`mod.rs:476-478`).
    * `onProgress` mirrors the daemon's progress_callback
    * (`daemon/autotune_jobs.rs:70-76`): progress is reported per
    * finished variant, and a job that cancels does so by throwing from
    * it (`AutotuneJobs`).
    */
  def run(df: DataFrame, idCol: String, vecCol: String, k: Int = 10,
      sampleN: Int = 10000, nQueries: Int = 10,
      metric: String = "l2sq", targetRecall: Double = 99.9,
      onProgress: Int => Unit = _ => ()): Seq[Result] = {
    val corpus = df.select(col(idCol), col(vecCol)).limit(sampleN).cache()
    // deterministic "random" query points: hash-ranked sample (X5)
    val queries = corpus
      .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nQueries).cache()
    val t0 = System.nanoTime()
    val truth = Knn.topK(corpus, queries, idCol, vecCol, k, metric)
      .cache()
    try {
      truth.count()
      val buildMs = (System.nanoTime() - t0) / 1e6

      val results = Seq.newBuilder[Result]
      var stopped = false
      grid.zipWithIndex.foreach { case (v, i) =>
        if (!stopped) {
          val (res, searchMs) = timedSearch(
            Knn.topK(corpus, queries, idCol, vecCol, k, metric))
          val recall = try recallPct(truth, res, k)
            finally res.unpersist()
          results += Result(i, v.m, v.efConstruction, v.ef, recall,
            searchMs / nQueries, buildMs)
          onProgress(((i + 1) * 100) / grid.size)
          if (recall >= targetRecall) stopped = true // mod.rs:476-478
        }
      }
      onProgress(100)
      results.result()
    } finally {
      truth.unpersist(); queries.unpersist(); corpus.unpersist()
    }
  }

  /** X8: pick min-latency among variants meeting the target recall;
    * fall back to max recall (`index_autotune/mod.rs:162-187`).
    */
  def bestVariant(results: Seq[Result], targetRecall: Double = 99.9)
      : Result = {
    val ok = results.filter(_.recall >= targetRecall)
    if (ok.nonEmpty) ok.minBy(r => (r.latencyMs, r.buildTimeMs))
    else results.maxBy(_.recall)
  }

  // ---- IVF-targeted sweep -------------------------------------------
  // The reference's grid searches HNSW build params; the index family
  // that exists HERE is IVF(-SQ8), so this sweep searches the axes that
  // actually govern its recall/latency/build trade: coarse cell count
  // (build-time k-means granularity) and probe width (query-time I/O).

  case class IvfVariant(nCells: Int, nprobe: Int)

  /** Small-to-wide sweep; within one nCells the build is shared (the
    * IvfIndex memo), so the grid costs |distinct nCells| builds.
    */
  val ivfGrid: Seq[IvfVariant] = Seq(
    IvfVariant(8, 1), IvfVariant(8, 4), IvfVariant(16, 2),
    IvfVariant(16, 4), IvfVariant(16, 16), IvfVariant(32, 8))

  case class IvfResult(experimentId: Int, nCells: Int, nprobe: Int,
      recall: Double, latencyMs: Double, buildTimeMs: Double)

  /** Sweep (nCells, nprobe): per variant, recall of IVF search vs the
    * brute-force ground truth, query latency, and the (memo-amortized)
    * index build time for its cell count. Early stop and progress
    * mirror [[run]].
    */
  def runIvf(df: DataFrame, idCol: String, vecCol: String, k: Int = 10,
      sampleN: Int = 10000, nQueries: Int = 10,
      metric: String = "l2sq", targetRecall: Double = 99.9,
      maxIter: Int = 5, seed: Long = 42L,
      onProgress: Int => Unit = _ => ()): Seq[IvfResult] = {
    // memo-owned frames: NOT unpersisted here — releaseSamples() is
    // the targeted drop for long-lived sessions
    val (corpus, queries, truth) =
      ivfSample(df, idCol, vecCol, sampleN, nQueries, k, metric)
    locally {
      val buildMs = scala.collection.mutable.Map[Int, Double]()
      def modelFor(nCells: Int): IvfIndex.Model = {
        val t = System.nanoTime()
        val m = IvfIndex.build(corpus, idCol, vecCol, nCells,
          maxIter = maxIter, seed = seed)
        buildMs.getOrElseUpdate(nCells, (System.nanoTime() - t) / 1e6)
        m
      }
      val results = Seq.newBuilder[IvfResult]
      var stopped = false
      ivfGrid.zipWithIndex.foreach { case (v, i) =>
        if (!stopped) {
          val model = modelFor(v.nCells)
          val (res, searchMs) = timedSearch(
            IvfIndex.search(model, queries, k, v.nprobe, metric))
          val recall = try recallPct(truth, res, k)
            finally res.unpersist()
          results += IvfResult(i, v.nCells, v.nprobe, recall,
            searchMs / nQueries, buildMs(v.nCells))
          onProgress(((i + 1) * 100) / ivfGrid.size)
          if (recall >= targetRecall) stopped = true
        }
      }
      onProgress(100)
      results.result()
    }
  }

  /** X8 selection over the IVF sweep: cheapest query meeting the
    * target, ties to the cheaper build; else max recall.
    */
  def bestIvfVariant(results: Seq[IvfResult],
      targetRecall: Double = 99.9): IvfResult = {
    val ok = results.filter(_.recall >= targetRecall)
    if (ok.nonEmpty) ok.minBy(r => (r.latencyMs, r.buildTimeMs))
    else results.maxBy(_.recall)
  }

  case class BqVariant(nprobe: Int, shortlist: Int)

  /** (nprobe, shortlist) axes of the two-stage BQ search: nprobe
    * bounds the probed-cell scan, shortlist the exact-rescore pool —
    * the two recall/cost levers a BQ deployment actually turns.
    */
  val bqGrid: Seq[BqVariant] = Seq(
    BqVariant(2, 20), BqVariant(2, 50), BqVariant(4, 20),
    BqVariant(4, 50), BqVariant(8, 50), BqVariant(16, 100))

  case class BqResult(experimentId: Int, nprobe: Int, shortlist: Int,
      recall: Double, latencyMs: Double, buildTimeMs: Double)

  /** Sweep the BQ search axes over ONE bits-bearing index (16 cells,
    * built once — unlike the IVF sweep, both axes here are pure query
    * parameters, so the build amortizes across the whole grid).
    * Recall is against the brute-force ground truth on the same
    * sample; early stop mirrors [[run]]/[[runIvf]].
    */
  def runBq(df: DataFrame, idCol: String, vecCol: String, k: Int = 10,
      sampleN: Int = 10000, nQueries: Int = 10,
      metric: String = "l2sq", targetRecall: Double = 99.9,
      nCells: Int = 16, maxIter: Int = 5, seed: Long = 42L)
      : Seq[BqResult] = {
    val (corpus, queries, truth) =
      ivfSample(df, idCol, vecCol, sampleN, nQueries, k, metric)
    val t0 = System.nanoTime()
    val model = IvfIndex.build(corpus, idCol, vecCol, nCells,
      maxIter = maxIter, seed = seed, kind = IvfIndex.StorageKind.Bq)
    val buildMs = (System.nanoTime() - t0) / 1e6
    val results = Seq.newBuilder[BqResult]
    var stopped = false
    bqGrid.zipWithIndex.foreach { case (v, i) =>
      if (!stopped) {
        // record the EFFECTIVE depth: a grid shortlist below k is
        // clamped for the search, and the result row must describe
        // the configuration that was actually measured (replaying the
        // unclamped value through /search would 400)
        val sl = math.max(v.shortlist, k)
        val (res, searchMs) = timedSearch(
          IvfIndex.search(model, queries, k, v.nprobe, metric,
            shortlist = sl))
        val recall = try recallPct(truth, res, k)
          finally res.unpersist()
        results += BqResult(i, v.nprobe, sl, recall,
          searchMs / nQueries, buildMs)
        if (recall >= targetRecall) stopped = true
      }
    }
    results.result()
  }

  /** BQ sweep results in the autotune_results shape (this family's
    * axes: nprobe × rescore-shortlist depth).
    */
  def bqToDF(spark: SparkSession, results: Seq[BqResult]): DataFrame = {
    import spark.implicits._
    results.toDF()
      .select(col("experimentId").as("experiment_id"),
        col("nprobe"), col("shortlist"),
        round(col("recall"), 1).as("recall"),
        col("latencyMs").as("latency"),
        col("buildTimeMs").as("build_time"))
  }

  /** X8 selection over the BQ sweep, same policy as
    * [[bestIvfVariant]].
    */
  def bestBqVariant(results: Seq[BqResult],
      targetRecall: Double = 99.9): BqResult = {
    val ok = results.filter(_.recall >= targetRecall)
    if (ok.nonEmpty) ok.minBy(r => (r.latencyMs, r.buildTimeMs))
    else results.maxBy(_.recall)
  }

  case class KindVariant(kind: String, nprobe: Int)

  /** Storage kinds × probe depth: the sweep a deployment runs to pick
    * its stored representation (the reference index server's
    * quantization kinds, external_index/server.rs:93-99). Kinds share
    * ONE coarse quantizer (k-means once), so the grid isolates the
    * storage kind's own recall/latency effect from cell-layout noise.
    */
  val kindGrid: Seq[KindVariant] = for {
    kind <- Seq("f32", "f16", "sq8", "bq")
    np <- Seq(4, 16)
  } yield KindVariant(kind, np)

  /** bytesPerDim: what each stored vector element costs on disk/scan —
    * the axis the whole sweep exists to trade recall against.
    */
  case class KindResult(experimentId: Int, kind: String, nprobe: Int,
      recall: Double, latencyMs: Double, buildTimeMs: Double,
      bytesPerDim: Double)

  private val bytesPerDim =
    Map("f32" -> 4.0, "f16" -> 2.0, "sq8" -> 1.0, "bq" -> 1.0 / 8.0)

  /** Sweep every storage kind under one shared coarse quantizer:
    * per (kind, nprobe), recall vs brute-force truth, query latency,
    * build time, and the kind's bytes-per-dimension. The deterministic
    * fixed-quantizer twin of this sweep's recall column is the
    * hash-oracled q_quant_kinds face; this run adds the wall-clock
    * axes and the k-means quantizer.
    */
  def runKinds(df: DataFrame, idCol: String, vecCol: String, k: Int = 10,
      sampleN: Int = 10000, nQueries: Int = 10,
      metric: String = "l2sq", targetRecall: Double = 99.9,
      nCells: Int = 16, maxIter: Int = 5, seed: Long = 42L,
      shortlist: Int = 50): Seq[KindResult] = {
    val (corpus, queries, truth) =
      ivfSample(df, idCol, vecCol, sampleN, nQueries, k, metric)
    val cb = ProductQuantizer.fitCodebook(corpus, idCol, vecCol,
      clusters = nCells, splits = 1, maxIter = maxIter, seed = seed)
    val cents = ProductQuantizer.localize(cb)(0)
    // one build per kind, amortized across its nprobe points
    case class Built(model: IvfIndex.Model, buildMs: Double)
    val builds = scala.collection.mutable.Map[String, Built]()
    def built(kind: String): Built = builds.getOrElseUpdate(kind, {
      val t0 = System.nanoTime()
      val m = IvfIndex.buildWithCentroids(corpus, idCol, vecCol, cents,
        kind = IvfIndex.StorageKind.byName(kind))
      Built(m, (System.nanoTime() - t0) / 1e6)
    })
    val results = Seq.newBuilder[KindResult]
    kindGrid.zipWithIndex.foreach { case (v, i) =>
      val b = built(v.kind)
      val (res, searchMs) = timedSearch(IvfIndex.search(b.model, queries,
        k, v.nprobe, metric, shortlist = math.max(shortlist, k)))
      val recall = try recallPct(truth, res, k)
        finally res.unpersist()
      results += KindResult(i, v.kind, v.nprobe, recall,
        searchMs / nQueries, b.buildMs, bytesPerDim(v.kind))
    }
    results.result()
  }

  /** X8 selection across kinds: cheapest STORAGE meeting the target
    * recall (bytes first — that is what the sweep exists to minimize
    * at corpus scale), latency as the tiebreak; else max recall.
    */
  def bestKind(results: Seq[KindResult],
      targetRecall: Double = 99.9): KindResult = {
    val ok = results.filter(_.recall >= targetRecall)
    if (ok.nonEmpty) ok.minBy(r => (r.bytesPerDim, r.latencyMs))
    else results.maxBy(_.recall)
  }

  /** Kind sweep results in the autotune_results shape. */
  def kindsToDF(spark: SparkSession,
      results: Seq[KindResult]): DataFrame = {
    import spark.implicits._
    results.toDF()
      .select(col("experimentId").as("experiment_id"), col("kind"),
        col("nprobe"),
        round(col("recall"), 1).as("recall"),
        col("latencyMs").as("latency"),
        col("buildTimeMs").as("build_time"),
        col("bytesPerDim").as("bytes_per_dim"))
  }

  /** IVF sweep results in the autotune_results shape (the HNSW param
    * columns replaced by this family's axes).
    */
  def ivfToDF(spark: SparkSession, results: Seq[IvfResult]): DataFrame = {
    import spark.implicits._
    results.toDF()
      .select(col("experimentId").as("experiment_id"),
        col("nCells").as("n_cells"), col("nprobe"),
        round(col("recall"), 1).as("recall"),
        col("latencyMs").as("latency"),
        col("buildTimeMs").as("build_time"))
  }

  // ---- hash-checkable recall axes -----------------------------------
  // The sweeps above carry wall-clock columns, which no restating
  // engine can reproduce — so their registry faces were rows-only.
  // These grids split the RECALL axis out: the same variant
  // enumeration run under a caller-FROZEN coarse quantizer, reporting
  // the integer truth-intersection count per variant. Every number is
  // an argmin/count over deterministic inputs, so a DuckDB
  // restatement matches bit for bit; the wall-clock axes stay graded
  // by AutotuneSpec's bounds.
  //
  // A grid writes no index. The corpus is cell-assigned once into a
  // cached frame, every kind encodes on top of it, the queries and the
  // exact truth are collected once, and IvfIndex.searchGrid answers
  // every point from one probe-ranked scan. Each point's rows equal
  // those of buildWithCentroids + IvfIndex.search at that point
  // (AutotuneSpec). The result is a local relation; the cache is
  // dropped before return.

  /** Per grid point, in order: how many of the exact top-k (qid, nid)
    * pairs that point's search returns, summed over all queries (the
    * pairs' join count).
    */
  private def gridMatches(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      k: Int, kinds: Seq[IvfIndex.StorageKind],
      points: Seq[IvfIndex.GridPoint]): Seq[Int] = {
    val (cells, models) = IvfIndex.assignCached(corpus, idCol, vecCol,
      centroids, kinds)
    try {
      val q = queries.select(col(idCol), col(vecCol))
      val local = corpus.sparkSession.createDataFrame(
        java.util.Arrays.asList(q.collect(): _*), q.schema)
      // nQueries x k pairs: bounded control state, like the codebook
      val truth = Knn.topK(cells, local, idCol, vecCol, k)
        .select(col("qid"), col("nid")).collect()
        .groupMapReduce(r => (r.getLong(0), r.getLong(1)))(_ => 1)(_ + _)
      IvfIndex.searchGrid(models.toIndexedSeq, local, k, points)
        .map(_.map(truth.getOrElse(_, 0)).sum)
    } finally cells.unpersist()
  }

  /** A grid's rows as a local relation; every column is non-null. */
  private def gridDF(spark: SparkSession, cols: Seq[(String, DataType)],
      rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(Row.fromSeq): _*),
      StructType(cols.map { case (n, t) =>
        StructField(n, t, nullable = false)
      }))

  /** Recall axis of [[runIvf]] under a frozen quantizer: the cell
    * count is fixed by `centroids`, so the swept axis is `probes`
    * (query-time I/O width) — per variant, how many of the exact
    * top-k the partial probe recovers, summed over all queries.
    */
  def ivfRecallGrid(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      k: Int = 10, probes: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    val matches = gridMatches(corpus, queries, idCol, vecCol, centroids,
      k, Seq(IvfIndex.StorageKind.F32),
      probes.map(IvfIndex.GridPoint(0, _)))
    gridDF(corpus.sparkSession, Seq("experiment_id" -> IntegerType,
        "n_cells" -> IntegerType, "nprobe" -> IntegerType,
        "matches" -> IntegerType),
      probes.zip(matches).zipWithIndex.map { case ((np, m), i) =>
        Seq(i, centroids.length, np, m)
      })
  }

  /** Recall axis of [[runBq]] under a frozen quantizer: the published
    * (nprobe, shortlist) grid, each variant's two-stage search
    * intersected with exact truth. Shortlists below k are clamped
    * exactly as the timed sweep clamps them.
    */
  def bqRecallGrid(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      k: Int = 10,
      grid: Seq[(Int, Int)] = bqGrid.map(v => (v.nprobe, v.shortlist)))
      : DataFrame = {
    val points = grid.map { case (np, sl) =>
      IvfIndex.GridPoint(0, np, math.max(sl, k))
    }
    val matches = gridMatches(corpus, queries, idCol, vecCol, centroids,
      k, Seq(IvfIndex.StorageKind.Bq), points)
    gridDF(corpus.sparkSession, Seq("experiment_id" -> IntegerType,
        "nprobe" -> IntegerType, "shortlist" -> IntegerType,
        "matches" -> IntegerType),
      points.zip(matches).zipWithIndex.map { case ((p, m), i) =>
        Seq(i, p.nprobe, p.shortlist, m)
      })
  }

  /** Recall axis of [[runKinds]] under a frozen SHARED quantizer: the
    * published kind × nprobe grid (every storage kind probing the
    * same frozen cells), BQ rescoring through `shortlist`.
    */
  def kindsRecallGrid(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, centroids: Array[Array[Float]],
      k: Int = 10, shortlist: Int = 40): DataFrame = {
    val kinds = kindGrid.map(_.kind).distinct
    val matches = gridMatches(corpus, queries, idCol, vecCol, centroids,
      k, kinds.map(IvfIndex.StorageKind.byName),
      kindGrid.map(v => IvfIndex.GridPoint(kinds.indexOf(v.kind),
        v.nprobe, math.max(shortlist, k))))
    gridDF(corpus.sparkSession, Seq("experiment_id" -> IntegerType,
        "kind" -> StringType,
        "nprobe" -> IntegerType, "matches" -> IntegerType),
      kindGrid.zip(matches).zipWithIndex.map { case ((v, m), i) =>
        Seq(i, v.kind, v.nprobe, m)
      })
  }

  /** X9: persist results in the reference's autotune_results schema
    * (`daemon/autotune_jobs.rs:47-56`).
    */
  def toDF(spark: SparkSession, results: Seq[Result]): DataFrame = {
    import spark.implicits._
    results.toDF()
      .select(col("experimentId").as("experiment_id"), col("m"),
        col("efConstruction").as("efc"), col("ef"),
        round(col("recall"), 1).as("recall"),
        col("latencyMs").as("latency"),
        col("buildTimeMs").as("build_time"))
  }
}
