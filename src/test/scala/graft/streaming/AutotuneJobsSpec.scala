package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Mirrors the reference daemon autotune e2e scenario
  * (`tests/daemon_autotune_test_with_db.rs`): insert vectors, insert an
  * autotune job row (operator dist_cos_ops, target_recall 95, k 10),
  * run the daemon, wait for completion artifacts — plus the failure
  * and cancellation cases the reference leaves as TODO.
  */
class AutotuneJobsSpec extends SparkSuite {
  import spark.implicits._
  import AutotuneJobs._

  private def freshStore(): (String, AutotuneStore) = {
    val base = Files.createTempDirectory("autotune").toString
    (base, new AutotuneStore(s"$base/store"))
  }

  test("happy path: queued job runs to enabled with results and best variant") {
    val (_, store) = freshStore()
    val job = store.add(s"$sf0001/embeddings.parquet", "vec_id",
      "embedding", operator = "dist_cos_ops", targetRecall = 95.0,
      k = 10, sampleN = 1000)
    assert(store.get(job.spec.id).status === "queued")
    assert(job.spec.metric === "cos")

    val drained = store.drain(spark)
    assert(drained === Seq(job.spec.id -> "enabled"))

    val st = store.get(job.spec.id)
    assert(st.status === "enabled" && st.progress === 100)
    // the exact path hits 100% recall, so the target-recall early stop
    // fires on the first variant (mod.rs:476-478)
    assert(st.results.get("best") === Some("m=6,efc=32,ef=64"))
    val results = spark.read.parquet(job.spec.resultsDir)
    assert(results.columns.toSeq === Seq("experiment_id", "m", "efc",
      "ef", "recall", "latency", "build_time"))
    assert(results.count() === 1)
    assert(results.select($"recall").as[Double].head() === 100.0)
  }

  test("canceled before start: run reports canceled and surfaces the error") {
    val (_, store) = freshStore()
    val job = store.add(s"$sf0001/embeddings.parquet", "vec_id",
      "embedding")
    store.cancel(job.spec.id)
    assert(store.run(spark, job.spec.id) === "canceled")
    val st = store.get(job.spec.id)
    assert(st.error === Some("Job cancelled"))
    // resume clears the cancel/fail state back to queued (F14)
    store.resume(job.spec.id)
    assert(store.get(job.spec.id).status === "queued")
  }

  test("failure path: bad source dir lands in failed with a reason") {
    val (base, store) = freshStore()
    val job = store.add(s"$base/does-not-exist", "vec_id", "embedding")
    assert(store.run(spark, job.spec.id) === "failed")
    val st = store.get(job.spec.id)
    assert(st.status === "failed" && st.error.nonEmpty)
  }

  test("daemon loop picks up jobs added while it runs") {
    val (_, store) = freshStore()
    @volatile var stopFlag = false
    val daemon = new Thread(() => {
      store.runDaemon(spark, pollMs = 50,
        stop = () => stopFlag)
      ()
    })
    daemon.start()
    try {
      // job added AFTER the daemon started — the poll must find it
      val job = store.add(s"$sf0001/embeddings.parquet", "vec_id",
        "embedding", operator = "dist_l2sq_ops", targetRecall = 95.0,
        k = 5, sampleN = 500)
      val deadline = System.currentTimeMillis() + 120000
      while (store.get(job.spec.id).status != "enabled" &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(store.get(job.spec.id).status === "enabled")
    } finally {
      stopFlag = true
      daemon.join(10000)
      assert(!daemon.isAlive)
    }
  }

  test("store round-trips state through JSON and lists by id") {
    val (_, store) = freshStore()
    store.add("/a", "id", "v", "dist_l2sq_ops", 98.5, 5, 100)
    store.add("/b", "id", "v", "l1", 99.9, 10, 1000)
    val all = store.list()
    assert(all.map(_.spec.id) === Seq(1L, 2L))
    assert(all.head.spec.targetRecall === 98.5 && all.head.spec.k === 5)
    assert(all(1).spec.metric === "l1")
  }

  test("add rejects an operator whose metric the engine cannot compute, " +
      "naming it and the accepted names, and queues nothing") {
    val (_, store) = freshStore()
    for (op <- Seq("dist_hamming_ops", "foo")) {
      val e = intercept[IllegalArgumentException] {
        store.add("/a", "id", "v", operator = op)
      }
      assert(e.getMessage.contains(s"'$op'"), e.getMessage)
      for (name <- Seq("dist_l2sq_ops", "dist_cos_ops") ++
          graft.operators.Knn.metrics)
        assert(e.getMessage.contains(name), e.getMessage)
    }
    assert(store.list().isEmpty)
  }
}
