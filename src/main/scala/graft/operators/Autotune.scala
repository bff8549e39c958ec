package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType,
  StructField, StructType}

/** Index-autotune analog (SURVEY §2.11 X4-X9,
  * `lantern_cli/src/index_autotune/`). Two kinds of sweep:
  *
  *   - [[run]] keeps the reference's published HNSW grid API-compatible
  *     (Spark has no online HNSW — north star — so each variant
  *     measures the EXACT top-k path; recall is always 100). It runs
  *     one timed search per variant, because per-variant latency is
  *     its output, and [[bestVariant]] applies the reference's
  *     selection rule to its rows.
  *   - [[ivfRecallGrid]], [[bqRecallGrid]] and [[kindsRecallGrid]]
  *     target the index family that actually exists here: IVF probe
  *     width, the BQ (nprobe, shortlist) axes, and the storage kinds.
  *     They report recall only, so each scores its whole grid from
  *     one probe-ranked scan of an in-memory assignment and writes no
  *     index.
  *
  * Grid iteration, early-stop, best-variant selection, and the
  * results schema mirror the reference throughout.
  */
object Autotune {

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

  case class BqVariant(nprobe: Int, shortlist: Int)

  /** (nprobe, shortlist) axes of the two-stage BQ search: nprobe
    * bounds the probed-cell scan, shortlist the exact-rescore pool —
    * the two recall/cost levers a BQ deployment actually turns.
    */
  val bqGrid: Seq[BqVariant] = Seq(
    BqVariant(2, 20), BqVariant(2, 50), BqVariant(4, 20),
    BqVariant(4, 50), BqVariant(8, 50), BqVariant(16, 100))

  case class KindVariant(kind: String, nprobe: Int)

  /** Storage kinds × probe depth: the sweep a deployment runs to pick
    * its stored representation (the reference index server's
    * quantization kinds, external_index/server.rs:93-99). Kinds share
    * ONE coarse quantizer (k-means once), so the grid isolates the
    * storage kind's own recall effect from cell-layout noise.
    */
  val kindGrid: Seq[KindVariant] = for {
    kind <- Seq("f32", "f16", "sq8", "bq")
    np <- Seq(4, 16)
  } yield KindVariant(kind, np)

  // ---- hash-checkable recall axes -----------------------------------
  // A wall-clock column is something no restating engine can
  // reproduce. These grids report the RECALL axis alone: each variant
  // runs under a caller-FROZEN coarse quantizer and reports the integer
  // truth-intersection count. Every number is an argmin/count over
  // deterministic inputs, so a DuckDB restatement matches bit for bit.
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

  /** IVF recall under a frozen quantizer: the cell
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

  /** BQ recall under a frozen quantizer: the published
    * (nprobe, shortlist) grid, each variant's two-stage search
    * intersected with exact truth. Shortlists below k are clamped to
    * k, the depth the search actually runs at.
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

  /** Storage-kind recall under a frozen SHARED quantizer: the
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
