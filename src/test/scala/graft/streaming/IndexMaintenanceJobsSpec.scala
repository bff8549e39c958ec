package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.IvfIndex
import org.apache.spark.sql.functions._

/** Index-maintenance job kind: compacts only when the file-debt
  * threshold is exceeded, is a no-op on a healthy index, and shares
  * the cancel/resume/fail contract of the other job kinds.
  */
class IndexMaintenanceJobsSpec extends SparkSuite {
  import spark.implicits._
  import IndexMaintenanceJobs._

  private def freshStore(): MaintStore =
    new MaintStore(
      Files.createTempDirectory("maintjobs").toString + "/store")

  private def debtIndex(): String = {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val tmp = Files.createTempDirectory("maint_idx").toString
    val base = IvfIndex.build(emb.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", nCells = 8, maxIter = 5, indexDir = Some(s"$tmp/idx"))
    IvfIndex.append(base, emb.where($"vec_id" % 4 === 1))
    IvfIndex.append(base, emb.where($"vec_id" % 4 === 3))
    s"$tmp/idx"
  }

  test("over-threshold index gets compacted; rerun is a recorded no-op") {
    val store = freshStore()
    val path = debtIndex()
    val rowsBefore = IvfIndex.load(spark, path, "vec_id", "embedding")
      .assigned.count()
    val job = store.add(path, "vec_id", "embedding", maxFilesPerCell = 2)
    assert(store.get(job.spec.id).status === "queued")
    assert(store.drain(spark) ===
      Seq(job.spec.id -> "enabled"))
    val st = store.get(job.spec.id)
    assert(st.results.get("compacted") === Some("true"))
    assert(st.results("filesBefore").toInt > st.results("filesAfter").toInt)
    // content untouched
    val m = IvfIndex.load(spark, path, "vec_id", "embedding")
    assert(m.assigned.count() === rowsBefore)
    // healthy now: a second job finishes without compacting
    val job2 = store.add(path, "vec_id", "embedding", maxFilesPerCell = 2)
    store.drain(spark)
    val st2 = store.get(job2.spec.id)
    assert(st2.status === "enabled" &&
      st2.results.get("compacted") === Some("false"))
    assert(st2.results.get("filesBefore") === st2.results.get("filesAfter"))
  }

  test("cancel before start; resume back to queued; missing index " +
      "fails with a recorded error") {
    val store = freshStore()
    val job = store.add("/tmp/does_not_exist_idx", "vec_id", "embedding")
    store.cancel(job.spec.id)
    assert(store.run(spark, job.spec.id) ===
      "canceled")
    store.resume(job.spec.id)
    assert(store.get(job.spec.id).status === "queued")
    // resumed run now actually executes — and fails on the bad path
    assert(store.run(spark, job.spec.id) ===
      "failed")
    val st = store.get(job.spec.id)
    assert(st.status === "failed" && st.error.isDefined)
  }

  test("state round-trips through the JSON store") {
    val store = freshStore()
    val job = store.add("/some/idx", "id", "vec", maxFilesPerCell = 5,
      targetFilesPerCell = 2)
    val back = store.get(job.spec.id)
    assert(back.spec === job.spec)
    assert(back.spec.maxFilesPerCell === 5 &&
      back.spec.targetFilesPerCell === 2)
  }
}
