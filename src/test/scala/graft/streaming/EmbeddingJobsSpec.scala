package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Mirrors the reference daemon e2e scenarios
  * (`tests/daemon_embeddings_test_with_db.rs`): init backfill, status
  * state machine, incremental catch-up after new arrivals, cancel /
  * resume, usage metering, failure path.
  */
class EmbeddingJobsSpec extends SparkSuite {
  import spark.implicits._
  import EmbeddingJobs._

  private def freshDirs(): (String, JobStore) = {
    val base = Files.createTempDirectory("jobs").toString
    Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    (base, new JobStore(s"$base/store"))
  }

  private def writeSource(base: String, ids: Range, part: String): Unit =
    ids.map(i => (i.toLong, s"Document number $i content"))
      .toDF("id", "text")
      .write.mode("overwrite").parquet(s"$base/src/$part")

  test("init backfill embeds all rows, status reaches enabled/100") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 40, "p0")
    val job = store.add(s"$base/src", "id", "text", "emb", "hash/bow-64")
    assert(store.get(job.spec.id).status === "queued")
    val term = store.run(spark, job.spec.id)
    assert(term === "enabled")
    val st = store.get(job.spec.id)
    assert(st.status === "enabled" && st.progress === 100 && st.error.isEmpty)
    val cur = currentTable(spark, store.get(job.spec.id).spec)
    assert(cur.count() === 40)
    assert(cur.where($"emb".isNull).count() === 0)
  }

  test("catch-up: only new files processed on the second run") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 20, "p0")
    val job = store.add(s"$base/src", "id", "text", "emb", "hash/bow-64")
    store.run(spark, job.spec.id)
    val usage1 = spark.read.parquet(job.spec.usageDir)
      .agg(sum($"rows")).as[Long].head()
    assert(usage1 === 20L)
    // downtime… then 10 new rows arrive
    writeSource(base, 100 until 110, "p1")
    store.run(spark, job.spec.id)
    val usage2 = spark.read.parquet(job.spec.usageDir)
      .agg(sum($"rows")).as[Long].head()
    assert(usage2 === 30L) // 10 incremental, not 30 reprocessed
    val cur = currentTable(spark, store.get(job.spec.id).spec)
    assert(cur.count() === 30 && cur.where($"emb".isNull).count() === 0)
    // exactly-once restart semantics (test_daemon_embedding_job_resume
    // analog): a third drain with NO new data must process nothing
    store.run(spark, job.spec.id)
    val usage3 = spark.read.parquet(job.spec.usageDir)
      .agg(sum($"rows")).as[Long].head()
    assert(usage3 === 30L)
  }

  test("cancel blocks the run and surfaces 'Job cancelled'; resume clears") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 5, "p0")
    val job = store.add(s"$base/src", "id", "text", "emb", "hash/bow-64")
    store.cancel(job.spec.id)
    assert(store.get(job.spec.id).status === "canceled")
    val term = store.run(spark, job.spec.id)
    assert(term === "canceled")
    assert(store.get(job.spec.id).error === Some("Job cancelled"))
    store.resume(job.spec.id)
    assert(store.run(spark, job.spec.id) === "enabled")
    assert(store.get(job.spec.id).status === "enabled")
  }

  test("failure path: bad model → failed status with error") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 5, "p0")
    val job = store.add(s"$base/src", "id", "text", "emb", "no/such-model")
    val term = store.run(spark, job.spec.id)
    assert(term === "failed")
    val st = store.get(job.spec.id)
    assert(st.status === "failed" && st.error.nonEmpty)
  }

  test("jobs run end to end on the ort runtime with a local model file") {
    // daemon + ONNX seam integration: the job's runtime is 'ort' and a
    // .graftonnx model file sits in the model dir — the same wiring a
    // production deployment uses with a real .onnx + onnxruntime jar
    val (base, store) = freshDirs()
    writeSource(base, 0 until 12, "p0")
    val dir = java.nio.file.Files.createTempDirectory("job-models").toString
    graft.embed.GraftFileSession.write(
      s"$dir/jobtest_m8.graftonnx", 8, 11L)
    val old = System.getProperty("graft.onnx.modelDir")
    System.setProperty("graft.onnx.modelDir", dir)
    try {
      val job = store.add(s"$base/src", "id", "text", "emb",
        "jobtest/m8", runtime = "ort")
      assert(store.run(spark, job.spec.id) === "enabled")
      val cur = currentTable(spark, store.get(job.spec.id).spec)
      assert(cur.count() === 12)
      assert(cur.where($"emb".isNull).count() === 0)
      assert(cur.select(size($"emb")).distinct().as[Int].head() === 8)
    } finally {
      if (old != null) System.setProperty("graft.onnx.modelDir", old)
      else System.clearProperty("graft.onnx.modelDir")
    }
  }

  test("usage rows carry per-batch token counts") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 8, "p0")
    val job = store.add(s"$base/src", "id", "text", "emb", "hash/bow-64")
    store.run(spark, job.spec.id)
    val u = spark.read.parquet(job.spec.usageDir)
    assert(u.agg(sum($"rows")).as[Long].head() === 8L)
    // "Document number <i> content" = 4 tokens each
    assert(u.agg(sum($"tokens")).as[Long].head() === 32L)
  }

  test("job state with quotes/backslashes round-trips losslessly") {
    val (base, store) = freshDirs()
    val j = store.add(base + "/src", "id", "text", "emb", "hash/bow-64")
    val weird = "fail at C:\\data \"quoted\" path\nline2"
    store.update(j.spec.id)(_.copy(error = Some(weird),
      failedAt = Some("t")))
    assert(store.get(j.spec.id).error === Some(weird))
  }

  test("jobs listing and state machine ordering") {
    val (base, store) = freshDirs()
    writeSource(base, 0 until 2, "p0")
    val j1 = store.add(s"$base/src", "id", "text", "e1", "hash/bow-64")
    val j2 = store.add(s"$base/src", "id", "text", "e2", "hash/bow-64")
    assert(store.list().map(_.spec.id) === Seq(j1.spec.id, j2.spec.id))
    // failed beats canceled beats enabled
    val st = store.get(j2.spec.id).copy(
      finishedAt = Some("t"), canceledAt = Some("t"),
      failedAt = Some("t"))
    assert(st.status === "failed")
    assert(st.copy(failedAt = None).status === "canceled")
    assert(st.copy(failedAt = None, canceledAt = None).status === "enabled")
  }
}
