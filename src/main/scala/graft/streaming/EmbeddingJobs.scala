package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.embed.{EmbeddingPipeline, EmbeddingRuntime}
import graft.util.MiniJson

/** Continuous embedding jobs — the reference daemon re-expressed in
  * Structured Streaming (SURVEY §2.9 D1-D10, §2.8 F11-F14, §3.3).
  *
  * Mapping:
  *  - jobs table + LISTEN/NOTIFY (D1-D3) → a JobStore of JSON states +
  *    the source directory ITSELF as the stream (new parquet files are
  *    the CDC events; no triggers needed);
  *  - 10 s batching collector (D4) → ProcessingTime/AvailableNow
  *    triggers with maxFilesPerTrigger;
  *  - init backfill + catch-up (D5, P3) → the first run consumes all
  *    existing files; the checkpoint makes later runs process only new
  *    arrivals — downtime catch-up is free;
  *  - row locking across daemons (D6) → unnecessary: the checkpoint
  *    gives exactly-once file processing under a single owner;
  *  - retry/backoff (D7) → Spark task retries + failed-state restart;
  *  - cancellation (D8) → cooperative check per micro-batch, surfacing
  *    the reference's "Job cancelled" error;
  *  - usage metering (D10) → one usage row per batch with columns
  *    (job_id, rows, tokens), laid out in `batch_id=N` partition
  *    directories (batch_id returns as a partition column on read);
  *    the same layout holds for the embedding output. Batch-scoped
  *    overwrite makes checkpoint replays idempotent.
  *
  * Status, cancel/resume, drain and the daemon loop are the lifecycle
  * shared by every job kind ([[JsonJobStore]]); a run on an enabled job
  * is the catch-up drain.
  */
object EmbeddingJobs {

  case class JobSpec(id: Long, sourceDir: String, pkCol: String,
      srcCol: String, outCol: String, model: String, runtime: String,
      workDir: String) extends JsonJobStore.Spec {
    def outputDir: String = s"$workDir/out"
    def usageDir: String = s"$workDir/usage"
    def checkpointDir: String = s"$workDir/checkpoint"
  }

  type JobState = JsonJobStore.Job[JobSpec]

  /** Driver-side job metadata store: one JSON file per job (D1's jobs
    * table; content is tiny control-plane state).
    */
  final class JobStore(dir: String)
      extends JsonJobStore[JobSpec](dir, "job_") {

    override protected def specFields(s: JobSpec): Seq[(String, Any)] =
      Seq("sourceDir" -> s.sourceDir, "pkCol" -> s.pkCol,
        "srcCol" -> s.srcCol, "outCol" -> s.outCol, "model" -> s.model,
        "runtime" -> s.runtime, "workDir" -> s.workDir)

    override protected def readSpec(f: MiniJson.Fields): JobSpec =
      JobSpec(f.long("id").get, f.str("sourceDir").get, f.str("pkCol").get,
        f.str("srcCol").get, f.str("outCol").get, f.str("model").get,
        f.str("runtime").get, f.str("workDir").get)

    /** F11: add_embedding_job. */
    def add(sourceDir: String, pkCol: String, srcCol: String,
        outCol: String, model: String, runtime: String = "hash",
        workBase: String = null): JobState = create(id =>
      JobSpec(id, sourceDir, pkCol, srcCol, outCol, model, runtime,
        Option(workBase).getOrElse(s"$dir/work_$id")))

    def run(spark: SparkSession, id: Long, maxFilesPerTrigger: Int)
        : String = runWith(id)(embed(spark, maxFilesPerTrigger))

    override protected def work(spark: SparkSession, job: JobState,
        progress: Progress): Seq[(String, String)] =
      embed(spark, 8)(job, progress)

    /** One drain of the job's stream (AvailableNow = D5 init backfill
      * AND steady-state catch-up: the checkpoint decides what is new).
      */
    private def embed(spark: SparkSession, maxFilesPerTrigger: Int)(
        job: JobState, progress: Progress): Seq[(String, String)] = {
      val spec = job.spec
      val runtime = EmbeddingRuntime.forName(spec.runtime)
      val schema = spark.read
        .option("recursiveFileLookup", "true")
        .parquet(spec.sourceDir).schema
      val stream = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .option("recursiveFileLookup", "true")
        .parquet(spec.sourceDir)
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          progress.checkCancel() // D8
          val embedded = EmbeddingPipeline.embedColumn(batch,
            spec.srcCol, spec.outCol, spec.model, runtime)
            .where(col(spec.outCol).isNotNull)
            .select(col(spec.pkCol), col(spec.outCol),
              col(spec.outCol + "_tokens").as("tokens"))
            .persist()
          try {
            val usage = embedded.agg(
              count(lit(1)).as("rows"), sum(col("tokens")).as("tokens"))
              .select(lit(spec.id).as("job_id"), col("rows"), col("tokens"))
              .collect().head
            // batchId-scoped overwrite (batch ids are unique across
            // restarts of one checkpoint): a replay after a crash
            // between these writes and the checkpoint commit rewrites
            // the same directories instead of appending duplicates, so
            // output stays exactly-once and D10 metering never
            // double-counts. batch_id returns as a partition column.
            embedded.drop("tokens")
              .write.mode("overwrite")
              .parquet(s"${spec.outputDir}/batch_id=$batchId")
            spark.createDataFrame(java.util.List.of(usage), usage.schema)
              .write.mode("overwrite")
              .parquet(s"${spec.usageDir}/batch_id=$batchId")
          } finally embedded.unpersist()
          ()
        }
        .option("checkpointLocation", spec.checkpointDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // progress: processed distinct pks over source rows (D5's %)
      val total = spark.read.option("recursiveFileLookup", "true")
        .parquet(spec.sourceDir).count()
      val done =
        // AnalysisException = no output yet (zero-row source); any
        // other failure must propagate to the failed-state path rather
        // than silently reporting 0 progress
        try spark.read.parquet(spec.outputDir)
          .select(col(spec.pkCol)).distinct().count()
        catch { case _: org.apache.spark.sql.AnalysisException => 0L }
      val pct = if (total == 0) 100 else ((done * 100) / total).toInt
      progress.report(math.min(pct, 100))
      Nil
    }
  }

  /** The "current table" view: source rows with their latest embedding
    * (P3's missing-rows are the NULL-embedding rows).
    */
  def currentTable(spark: SparkSession, spec: JobSpec): DataFrame = {
    val source = spark.read.option("recursiveFileLookup", "true")
      .parquet(spec.sourceDir)
    val out =
      // AnalysisException = job has produced no output yet; genuine
      // read failures (corrupt/mixed layouts) must surface, not turn
      // into silently all-NULL embeddings
      try spark.read.parquet(spec.outputDir)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          return source.withColumn(spec.outCol,
            lit(null).cast("array<float>"))
      }
    // keep the latest batch's embedding per pk (idempotent re-runs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(spec.pkCol))
      .orderBy(col("batch_id").desc)
    val latest = out
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(spec.pkCol), col(spec.outCol))
    source.join(latest, Seq(spec.pkCol), "left")
  }
}
