package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.{IvfIndex, Knn}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end composition of the reference's daemon workflow on this
  * engine's primitives: documents arrive as a stream → embedded per
  * micro-batch (deterministic hash model) → vectors ingested into the
  * durable IVF index → immediately searchable. This is CDC → embed →
  * index → search in one running pipeline, the complete
  * `add_embedding_job` + external-index story without an online ANN
  * server.
  */
class EmbedToIndexSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("embed2idx").toString

  test("streamed documents become searchable vectors: embed per batch " +
      "-> ingest into the index -> search finds the new docs") {
    implicit val sqlCtx = spark.sqlContext
    def embed(df: org.apache.spark.sql.DataFrame) =
      graft.embed.EmbeddingPipeline.embedColumn(
        df, "text", "embedding", "hash/bow-64",
        graft.embed.HashEmbeddingRuntime)
        .select($"doc_id", $"text", $"embedding")

    // resident corpus: 200 seed docs, indexed once
    val seed = (0 until 200)
      .map(i => (i.toLong, s"seed document number $i about topic ${i % 7}"))
      .toDF("doc_id", "text")
    val idx = tmp() + "/idx"
    IvfIndex.build(embed(seed), "doc_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(idx))

    // the stream: embed each arriving batch, then ingest the vectors
    val mem = MemoryStream[(Long, String)]
    val centroids = spark.read.parquet(s"$idx/_centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).map(_._2)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", tmp())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
          id: Long) =>
        VectorIngestStream.processBatch(embed(batch), id, centroids,
          "doc_id", "embedding", idx)
        ()
      }
      .start()
    val fresh = (1000 until 1050)
      .map(i => (i.toLong, s"fresh arrival number $i quite different"))
    mem.addData(fresh.take(25)); q.processAllAvailable()
    mem.addData(fresh.drop(25)); q.processAllAvailable()
    q.stop()

    // search with a fresh doc's own text: it must find itself at
    // rank 1 (identical text -> identical hash embedding -> dist 0)
    val model = VectorIngestStream.openModel(spark, idx, "doc_id",
      "embedding")
    assert(model.assigned.count() === 250)
    val queryDocs = Seq((1042L, "fresh arrival number 1042 quite different"))
      .toDF("doc_id", "text")
    val hits = IvfIndex.search(model, embed(queryDocs), k = 3,
      nprobe = 8)
    val top = hits.where($"rank" === 1)
      .select($"nid", $"dist").as[(Long, Double)].head()
    assert(top._1 === 1042L && top._2 === 0.0,
      s"fresh doc not found at rank 1: $top")
  }

  /** Crash the stage by deleting its checkpoint's newest commit file:
    * the batch's writes landed but the commit did not — exactly the
    * window a process kill hits — so the restart MUST replay it.
    */
  private def dropLatestCommit(checkpointDir: String): Unit = {
    val commits = new java.io.File(s"$checkpointDir/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    val latest = commits.maxBy(_.getName.toLong)
    assert(latest.delete(), s"could not drop commit ${latest}")
    // the local-FS checksum sidecar must go with it, or the re-created
    // commit trips ChecksumFileSystem on the stale crc
    new java.io.File(latest.getParentFile, s".${latest.getName}.crc")
      .delete()
  }

  test("crash-recovery e2e: kill embed AND ingest after write, before " +
      "commit — restart replays both with no duplicate and no missing " +
      "vector (daemon resume analog)") {
    import EmbeddingJobs._
    val base = tmp()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$base/src"))
    def embed(df: org.apache.spark.sql.DataFrame) =
      graft.embed.EmbeddingPipeline.embedColumn(
        df, "text", "emb", "hash/bow-64",
        graft.embed.HashEmbeddingRuntime)
        .select($"id", $"emb")
    def writeSrc(ids: Range, part: String): Unit =
      ids.map(i => (i.toLong, s"streamed doc $i payload"))
        .toDF("id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$base/src/$part")

    // resident index from a 100-doc seed corpus
    val idx = s"$base/idx"
    val seed = (0 until 100)
      .map(i => (i.toLong, s"seed doc $i topic ${i % 5}"))
      .toDF("id", "text")
    IvfIndex.build(embed(seed), "id", "emb", nCells = 4, maxIter = 5,
      indexDir = Some(idx))

    val store = new JobStore(s"$base/store")
    val job = store.add(s"$base/src", "id", "text", "emb",
      "hash/bow-64")
    val spec = store.get(job.spec.id).spec
    val ingestCkpt = s"$base/ingest_ckpt"
    def drainIngest(): Unit = {
      val q = VectorIngestStream.startFromEmbedOutput(spark,
        spec.outputDir, "id", "emb", idx, ingestCkpt,
        maxFilesPerTrigger = 1)
      q.processAllAvailable(); q.stop()
    }
    def streamedIds(): Seq[Long] = {
      graft.util.IndexDir.scan(spark, s"$idx/_stream", "batch_id")
        .select($"id").as[Long].collect().toSeq
    }

    // wave 1 flows through cleanly
    writeSrc(1000 until 1020, "p0")
    assert(store.run(spark, job.spec.id,
      maxFilesPerTrigger = 1) === "enabled")
    drainIngest()
    assert(streamedIds().sorted === (1000L until 1020L))

    // wave 2: EMBED stage crashes after its write, before its commit
    writeSrc(2000 until 2015, "p1")
    assert(store.run(spark, job.spec.id,
      maxFilesPerTrigger = 1) === "enabled")
    dropLatestCommit(spec.checkpointDir)
    // restart: the job replays the uncommitted batch (same batch_id,
    // same rows, FRESH part-file names in outputDir)
    val replayTerm = store.run(spark, job.spec.id,
      maxFilesPerTrigger = 1)
    assert(replayTerm === "enabled",
      s"embed replay: $replayTerm, ${store.get(job.spec.id).error}")
    drainIngest()
    val afterEmbedCrash = streamedIds()
    assert(afterEmbedCrash.sorted ===
      ((1000L until 1020L) ++ (2000L until 2015L)),
      s"embed replay duplicated or dropped rows: " +
        s"${afterEmbedCrash.groupBy(identity).filter(_._2.size > 1).keys}")

    // wave 3: INGEST stage crashes after its write, before its commit
    writeSrc(3000 until 3010, "p2")
    assert(store.run(spark, job.spec.id,
      maxFilesPerTrigger = 1) === "enabled")
    drainIngest()
    dropLatestCommit(ingestCkpt)
    drainIngest() // replays the uncommitted ingest batch
    val all = streamedIds()
    val expected = (1000L until 1020L) ++ (2000L until 2015L) ++
      (3000L until 3010L)
    assert(all.sorted === expected.sorted,
      s"ingest replay duplicated or dropped rows")
    assert(all.distinct.size === all.size, "duplicate vectors in index")

    // and the composed index serves them: each streamed doc finds
    // itself at rank 1, distance 0
    val model = VectorIngestStream.openModel(spark, idx, "id", "emb")
    assert(model.assigned.count() === 100 + expected.size)
    val probe = Seq((3007L, "streamed doc 3007 payload"))
      .toDF("id", "text")
    val hit = IvfIndex.search(model, embed(probe), k = 1, nprobe = 4)
      .select($"nid", $"dist").as[(Long, Double)].head()
    assert(hit === ((3007L, 0.0)), s"streamed doc not served: $hit")
  }
}
