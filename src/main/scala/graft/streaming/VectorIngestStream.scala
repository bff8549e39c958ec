package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{IvfIndex, ProductQuantizer}

/** Continuous vector ingest into a durable IVF inverted file — the
  * streaming face of [[graft.operators.IvfIndex.append]]: embeddings
  * arrive as a stream (the output of an embedding job, a CDC feed) and
  * each micro-batch is routed into the index's cells under the FROZEN
  * coarse quantizer, so searches opened over the index see arrivals
  * without any rebuild. Periodic re-train (a fresh `build`) remains
  * the answer to distribution drift, exactly as in batch.
  *
  * State design (the [[NearDupStream]] lesson): arrivals live in the
  * STORAGE layer, inside the index artifact itself, never in executor
  * state. They land under `_stream/batch_id=N/cell_id=M` — the
  * underscore prefix hides the subtree from the resident parquet
  * listing (so the base index reads are untouched), while `cell_id`
  * stays a partition column of the arrival subtree, so probe IN
  * filters prune arrival files exactly as they prune resident cells.
  *
  * Idempotency: each batch writes with DYNAMIC partition overwrite
  * scoped to its own `batch_id=N` subtree — a batch replayed after a
  * crash between write and checkpoint commit rewrites the same
  * directories instead of double-appending (the D10 lesson).
  */
object VectorIngestStream {

  private def streamDir(indexPath: String) = s"$indexPath/_stream"

  /** Start ingesting `vectors` (streaming DataFrame with the index's
    * id/vec columns) into the existing index at `indexPath` (written
    * by `IvfIndex.build`/`buildWithCentroids`; its `_centroids`
    * sidecar supplies the frozen quantizer).
    */
  def start(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, indexPath: String, checkpointDir: String)
      : StreamingQuery = {
    val centroids = loadCentroids(spark, indexPath)
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, centroids, idCol, vecCol, indexPath)
        ()
      }
      .start()
  }

  private def loadCentroids(spark: SparkSession,
      indexPath: String): Array[Array[Float]] = {
    val cents = graft.util.SidecarIO.readCentroids(
      spark.sessionState.newHadoopConf(), s"$indexPath/_centroids")
    require(cents.nonEmpty, s"no centroid sidecar under $indexPath")
    cents
  }

  /** Ingest the OUTPUT of an embedding job ([[EmbeddingJobs]] writes
    * `outputDir/batch_id=N` partitions) into the index — the composed
    * CDC → embed → index chain. Arrivals are keyed by the SOURCE
    * (embed-stage) batch id, not this stream's own foreachBatch id:
    * that choice is what makes the chain exactly-once under a crash at
    * EITHER stage. An ingest crash between write and checkpoint commit
    * replays onto the same `_stream/batch_id=N` subtree (dynamic
    * overwrite). An EMBED crash replays its own batch and rewrites
    * `outputDir/batch_id=N` with identical rows but fresh part-file
    * names — a file-source ingest keyed by its own batch ids would see
    * "new" files and double-ingest; keyed by the source batch id, the
    * re-read rows land back on `_stream/batch_id=N` and overwrite.
    *
    * The distinct-batch-id collect per micro-batch is bounded by
    * `maxFilesPerTrigger` (each source file lives in one batch dir) —
    * a parameter, never data scale.
    */
  def startFromEmbedOutput(spark: SparkSession, outputDir: String,
      idCol: String, vecCol: String, indexPath: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 8)
      : StreamingQuery = {
    val centroids = loadCentroids(spark, indexPath)
    val schema = spark.read.parquet(outputDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(outputDir)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // partition-value inference may type batch_id int or long
        val bids = batch.select(col("batch_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).sorted
        bids.foreach { b =>
          processBatch(
            batch.where(col("batch_id") === b).drop("batch_id"),
            b, centroids, idCol, vecCol, indexPath)
        }
        ()
      }
      .start()
  }

  /** One micro-batch: assign cells under the frozen quantizer, write
    * the batch's own partition subtree (dynamic overwrite ⇒ replay
    * rewrites, never double-appends). Graft-visible so the spec and
    * the replay gate face can drive batch semantics directly — they
    * ARE the stream semantics.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      centroids: Array[Array[Float]], idCol: String, vecCol: String,
      indexPath: String): Unit = {
    batch.select(col(idCol), col(vecCol))
      .withColumn("cell_id", graft.functions.VectorFunctions
        .nearest_centroid(col(vecCol), centroids))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("cell_id"))
      .write
      .partitionBy("batch_id", "cell_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(streamDir(indexPath))
  }

  /** Fold streamed arrivals into a NEW self-contained index at
    * `targetDir`: resident + arrival rows rewritten as one
    * cell-partitioned layout of the index's kind (rows already carry
    * their cell — no re-assignment, no k-means), sidecars copied. The
    * SOURCE index is never touched, so unlike an in-place merge a
    * crash mid-compaction cannot corrupt or duplicate the live index
    * — the target only becomes live when the caller repoints at it
    * (then deletes the old dir). Duplicates matter here (a duplicated
    * row would surface twice in a kNN result), which is why the
    * [[NearDupStream.compactIndex]] merge-in-place trick — safe there
    * because candidate `distinct()` absorbs dups — is NOT reused.
    */
  def compact(spark: SparkSession, indexPath: String, idCol: String,
      vecCol: String, targetDir: String): IvfIndex.Model = {
    val model = openModel(spark, indexPath, idCol, vecCol)
    graft.util.IndexDir.rewrite(
      model.assigned.select(stored(model).map(col): _*), "cell_id", idCol,
      1, targetDir, SaveMode.ErrorIfExists)
    IvfIndex.copySidecars(spark, indexPath, targetDir)
    IvfIndex.load(spark, targetDir, idCol, vecCol)
  }

  /** The columns an index row keeps through ingest: id, the kind's
    * payload, cell.
    */
  private def stored(m: IvfIndex.Model): Seq[String] =
    m.idCol +: m.kind.payloadCols(m.vecCol) :+ "cell_id"

  /** Open a search model over resident + streamed rows. The union's
    * two scans both carry `cell_id` as a partition column, so
    * `IvfIndex.search`'s probe IN filter prunes files on BOTH sides.
    * Both sides hold the index kind's payload columns: resident rows
    * serve their STORED payload, the streamed tail (small, recent)
    * encodes its floats on the fly under the frozen kind — every
    * encode is deterministic, so the values equal encode-at-write.
    */
  def openModel(spark: SparkSession, indexPath: String, idCol: String,
      vecCol: String): IvfIndex.Model = {
    val base = IvfIndex.load(spark, indexPath, idCol, vecCol)
    val sd = streamDir(indexPath)
    // Hadoop FS, not java.io — the index may live on s3a/hdfs where a
    // local File check is silently false
    val sdPath = new org.apache.hadoop.fs.Path(sd)
    val hasStream = sdPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(sdPath)
    if (!hasStream) base
    else {
      val arrivals = base.kind.encode(
        graft.util.IndexDir.scan(spark, sd, "batch_id")
          .select(col(idCol), col(vecCol), col("cell_id")), idCol, vecCol)
      base.copy(assigned = base.assigned.select(stored(base).map(col): _*)
        .unionByName(arrivals))
    }
  }
}
