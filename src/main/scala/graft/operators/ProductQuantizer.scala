package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.util.PlanMemo

/** Product Quantization engine (SURVEY §2.10, `lantern_cli/src/pq/`):
  * per-subvector k-means codebook + u8 code compression.
  *
  * Spark-first redesign of the reference pipeline:
  *  - The reference loads the WHOLE dataset into RAM and splits work by
  *    hand-rolled pk ranges / GCP Batch tasks (`pq/codebook.rs:213-226`,
  *    `pq/gcp_batch.rs`). Here the dataset stays partitioned; only
  *    centroids (≤ 256 x dim floats) ever reach the driver, and Q9's
  *    task splitting is simply Spark partitioning.
  *  - Lloyd iterations run over ALL subvector splits in one job each:
  *    explode to (split_id, subvec), assign via a broadcast codebook,
  *    recompute centroids with the partial-aggregating VectorAvg — so
  *    shuffle volume per iteration is |splits| x |clusters| buffers per
  *    partition, independent of row count.
  *  - Validations mirror `pq/mod.rs:131-155,228-238`: clusters ≤ 256
  *    (codes are u8), clusters ≤ rows, dataset limit ≥ clusters;
  *    subvector_dim = dim/splits with the LAST split absorbing the
  *    remainder.
  *
  * Codes are stored as ARRAY<TINYINT> with two's-complement wrapping
  * (code.toByte); consumers read them back as (b & 0xFF) — lossless for
  * the full 0..255 range, matching the reference's u8 storage bit-depth.
  */
object ProductQuantizer {

  case class SplitSpec(splitId: Int, start: Int, len: Int)

  /** dim → split layout; last split absorbs the remainder
    * (`pq/mod.rs:234-238`).
    */
  def splitLayout(dim: Int, splits: Int): Seq[SplitSpec] = {
    require(splits >= 1 && splits <= dim,
      s"splits must be in [1, $dim], got $splits")
    val base = dim / splits
    (0 until splits).map { s =>
      val start = s * base
      val len = if (s == splits - 1) dim - start else base
      SplitSpec(s, start, len)
    }
  }

  /** In-JVM codebook: codebook(splitId)(centroidId) = centroid. */
  type LocalCodebook = Array[Array[Array[Float]]]

  private def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d; i += 1
    }
    acc
  }

  /** argmin over centroids; strict `<` keeps the LOWEST index on ties
    * (mirrors the reference's linear scan, `pq/quantization.rs:25-38`).
    */
  def nearestCentroid(centroids: Array[Array[Float]],
      v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val d = l2sq(centroids(c), v)
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** (split_id, subvec) rows for every input vector. */
  private def explodeSplits(df: DataFrame, vecCol: String,
      layout: Seq[SplitSpec]): DataFrame = {
    val splitCols = layout.map(sp =>
      struct(lit(sp.splitId).as("split_id"),
        slice(col(vecCol), sp.start + 1, sp.len).as("subvec")))
    df.select(explode(array(splitCols: _*)).as("s"))
      .select(col("s.split_id"), col("s.subvec"))
  }

  private val fitMemo = new PlanMemo[
    (String, String, Int, Int, Int, Double, Long, Option[Int]),
    Seq[(Int, Int, Seq[Float])]](64)

  /** Q3-Q5: fit the per-split codebook.
    *
    * Deterministic seeded init: a hash-ranked sample of `clusters` rows
    * (k-means++-lite) rather than the reference's thread_rng sampling
    * (`pq/codebook.rs:42-47` — nondeterministic; SURVEY §7.4 calls for
    * fixed seeds). Returns (subvector_id INT, centroid_id INT,
    * c ARRAY<FLOAT>) — `pq/setup.rs:27`'s schema.
    *
    * Memoized: the fit is deterministic in (input plan, idCol, vecCol,
    * params), so repeated fits over one table (PQ and IVF queries share
    * corpora) reuse the collected centroid rows — at most 256
    * centroids × dim floats an entry, 64 entries — rebuilt as a
    * DataFrame on the caller's session and immune to cache clearing.
    * Like every [[graft.util.PlanMemo]] the memo keys on the OPTIMIZED
    * input plan, not the analyzed one (a select that optimizes away
    * shares the table's entry), and a hit needs the session that
    * stored the entry: another session refits.
    */
  def fitCodebook(df: DataFrame, idCol: String, vecCol: String,
      clusters: Int, splits: Int, maxIter: Int = 20, tol: Double = 0.1,
      seed: Long = 42L, datasetLimit: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = fitMemo(df, (idCol, vecCol, clusters, splits, maxIter, tol,
        seed, datasetLimit)) {
      fitCodebookUncached(df, idCol, vecCol, clusters, splits, maxIter,
        tol, seed, datasetLimit).collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getSeq[Float](2))).toSeq
    }
    rows.toDF("subvector_id", "centroid_id", "c")
  }

  private def fitCodebookUncached(df: DataFrame, idCol: String,
      vecCol: String, clusters: Int, splits: Int, maxIter: Int,
      tol: Double, seed: Long, datasetLimit: Option[Int]): DataFrame = {
    require(clusters >= 1 && clusters <= 256,
      s"clusters must be in [1, 256] (u8 codes), got $clusters")
    datasetLimit.foreach(l => require(l >= clusters,
      s"dataset limit $l must be >= clusters $clusters"))
    val spark = df.sparkSession

    val dim = df.select(size(col(vecCol))).head().getInt(0)
    val layout = splitLayout(dim, splits)

    // deterministic sample: rank rows by a seeded hash of the id
    val base0 = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val base = datasetLimit match {
      case Some(l) => base0
        .orderBy(xxhash64(col("id"), lit(seed)), col("id")).limit(l)
      case None => base0
    }
    val rowCount = base.count()
    require(clusters <= rowCount,
      s"clusters $clusters must be <= rows $rowCount (pq/mod.rs:150-155)")

    val initRows = base
      .orderBy(xxhash64(col("id"), lit(seed + 1)), col("id"))
      .limit(clusters)
      .select(col("v")).collect().map(_.getSeq[Float](0).toArray)
    var codebook: LocalCodebook = layout.map(sp =>
      initRows.map(v => v.slice(sp.start, sp.start + sp.len))).toArray

    val subvecs = explodeSplits(base, "v", layout)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved > tol) {
        // codegen per-split argmin (SplitNearestCentroid): the exploded
        // subvector table is |rows| x |splits| rows per Lloyd
        // iteration; the former boxed-Seq UDF paid a Seq copy per row
        // and de-compiled the aggregation's input stage. The evolving
        // codebook rides as a constant in the compiled stage (≤ 256 x
        // dim floats x splits — model-bounded), replacing the
        // per-iteration broadcast/destroy cycle.
        val assignCol = VectorFunctions.col(
          graft.functions.SplitNearestCentroid(
            VectorFunctions.expr(col("split_id")),
            VectorFunctions.expr(col("subvec")),
            localIndexed(codebook)))
        val newCentroids = subvecs
          .groupBy(col("split_id"), assignCol.as("centroid_id"))
          .agg(VectorFunctions.col(
            VectorAvg(VectorFunctions.expr(col("subvec")))
              .toAggregateExpression()).as("c"))
          .collect()
        val next = codebook.map(_.map(_.clone()))
        newCentroids.foreach { r =>
          next(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
        }
        moved = codebook.indices.map { s =>
          codebook(s).indices.map(ci => l2sq(codebook(s)(ci), next(s)(ci))).max
        }.max
        codebook = next
        iter += 1
      }
    } finally subvecs.unpersist()

    val rows = for {
      sp <- layout
      ci <- 0 until clusters
    } yield (sp.splitId, ci, codebook(sp.splitId)(ci).toSeq)
    import spark.implicits._
    rows.toDF("subvector_id", "centroid_id", "c")
  }

  /** Collect a codebook DataFrame into the in-JVM layout (small: at most
    * 256 centroids per split).
    */
  def localize(codebook: DataFrame): LocalCodebook = {
    val rows = codebook
      .select(col("subvector_id"), col("centroid_id"), col("c"))
      .collect()
    val splits = rows.map(_.getInt(0)).max + 1
    val out = Array.ofDim[Array[Array[Float]]](splits)
    rows.groupBy(_.getInt(0)).foreach { case (s, rs) =>
      val k = rs.map(_.getInt(1)).max + 1
      val cents = Array.ofDim[Array[Float]](k)
      rs.foreach(r => cents(r.getInt(1)) = r.getSeq[Float](2).toArray)
      out(s) = cents
    }
    out
  }

  /** Q7: quantize a vector column against a codebook → ARRAY<TINYINT>
    * codes (broadcast argmin per split; one code per split).
    */
  def quantizeColumn(df: DataFrame, vecCol: String, outCol: String,
      codebook: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val local = localize(codebook)
    val layout = {
      val subdims = local.map(_.head.length)
      val starts = subdims.scanLeft(0)(_ + _)
      subdims.indices.map(i => SplitSpec(i, starts(i), subdims(i)))
    }
    // codegen multi-split argmin (PqEncode): the expression emits
    // wrapped two's-complement ints exactly as the former UDF did
    // (Array[Byte] would map to BINARY); the cast to ARRAY<TINYINT>
    // is ANSI-safe in [-128, 127].
    val enc = graft.functions.VectorFunctions.col(
      graft.functions.PqEncode(
        graft.functions.VectorFunctions.expr(col(vecCol)),
        localIndexed(local), layout.map(_.start).toIndexedSeq))
    df.withColumn(outCol, enc.cast("array<tinyint>"))
  }

  /** Codebook → expression param (structural equality with a cached
    * hash — see FloatCubeParam's scaladoc).
    */
  private def localIndexed(local: LocalCodebook)
      : graft.functions.FloatCubeParam =
    new graft.functions.FloatCubeParam(local)

  /** Reconstruct the approximate vector from PQ codes (ADC building
    * block / `_lantern_internal.quantize_vector` inverse).
    */
  def dequantizeColumn(df: DataFrame, pqCol: String, outCol: String,
      codebook: DataFrame): DataFrame = {
    // codegen decode (PqDecode): the reconstruction faces run this
    // corpus-wide, where the former Seq[Byte] UDF boxed every code row
    // and dropped the whole stage out of whole-stage codegen. Null
    // codes still decode to null (expression null-propagation ==
    // the UDF's explicit null branch).
    df.withColumn(outCol, graft.functions.VectorFunctions.col(
      graft.functions.PqDecode(
        graft.functions.VectorFunctions.expr(col(pqCol)),
        localIndexed(localize(codebook)))))
  }
}
