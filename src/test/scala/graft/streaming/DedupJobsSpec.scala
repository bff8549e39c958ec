package graft.streaming

import java.nio.file.Files

import graft.SparkSuite

/** Daemon dedup-job kind: happy path over the fixture corpus, the
  * cancel/resume state machine, and the failure path — the same
  * contract surface as the embedding/autotune job kinds.
  */
class DedupJobsSpec extends SparkSuite {
  import spark.implicits._
  import DedupJobs._

  private def freshStore(): DedupStore =
    new DedupStore(
      Files.createTempDirectory("dedupjobs").toString + "/store")

  test("happy path: job dedups the corpus and records the dup count") {
    val store = freshStore()
    val job = store.add(s"$sf0001/documents.parquet", "doc_id", "text",
      tau = 0.5)
    assert(store.get(job.spec.id).status === "queued")
    val drained = store.drain(spark)
    assert(drained === Seq(job.spec.id -> "enabled"))
    val st = store.get(job.spec.id)
    assert(st.status === "enabled" && st.progress === 100)

    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
    val pairs = spark.read.parquet(job.spec.pairsDir)
    val survivors = spark.read.parquet(job.spec.survivorsDir)
    val dupIds = pairs.select($"j").distinct().as[Long].collect().toSet
    assert(st.results.get("dupCount") === Some(dupIds.size.toString))
    assert(survivors.count() === corpus.count() - dupIds.size)
    // survivors contain no flagged id
    val survIds = survivors.select($"doc_id").as[Long].collect().toSet
    assert(survIds.intersect(dupIds).isEmpty)
    assert(dupIds.nonEmpty, "fixture corpus contains planted dups")
  }

  test("cancel before start; resume back to queued") {
    val store = freshStore()
    val job = store.add(s"$sf0001/documents.parquet", "doc_id", "text")
    store.cancel(job.spec.id)
    assert(store.run(spark, job.spec.id) === "canceled")
    assert(store.get(job.spec.id).error === Some("Job cancelled"))
    store.resume(job.spec.id)
    assert(store.get(job.spec.id).status === "queued")
  }

  test("failure path: missing source lands in failed with a reason") {
    val store = freshStore()
    val job = store.add("/nonexistent/dir", "doc_id", "text")
    assert(store.run(spark, job.spec.id) === "failed")
    val st = store.get(job.spec.id)
    assert(st.status === "failed" && st.error.isDefined)
    // resume after a MID-RUN failure (startedAt set) must go back to
    // queued — not park in "in_progress", which drain never picks up
    store.resume(job.spec.id)
    assert(store.get(job.spec.id).status === "queued")
    val retried = store.drain(spark)
    assert(retried.map(_._1) === Seq(job.spec.id),
      "drain must retry the resumed job")
  }
}
