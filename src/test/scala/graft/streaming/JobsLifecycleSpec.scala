package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSuite
import JsonJobStore.Job

/** The one job lifecycle, run for each of the four job kinds: exact
  * spec round trips, resume after a mid-run failure, a failure whose
  * message merely mentions a cancel, and job files in the format the
  * per-kind serializers wrote before the lifecycle was shared.
  */
class JobsLifecycleSpec extends SparkSuite {

  private def dir(): String = Files.createTempDirectory("lifecycle").toString

  // a source path that does not exist, so the run fails after it has
  // started; its error message names the path
  private val missing = "/nonexistent/Job cancelled/src"

  /** The lifecycle specs of one kind. `make(true)` adds a job that
    * carries 5e-4 in a spec field, `make(false)` one whose source is
    * [[missing]]; each in a fresh store.
    */
  private def kind[S <: JsonJobStore.Spec](name: String)(
      make: Boolean => (JsonJobStore[S], Job[S])): Unit = {
    test(s"$name: spec fields round-trip exactly, 5e-4 included") {
      val (store, job) = make(true)
      assert(store.get(job.spec.id) === job)
      assert(store.list() === Seq(job))
      assert(Seq("5.0E-4", "5e-4").exists(job.spec.toString.contains))
    }

    test(s"$name: a mid-run failure resumes to queued with progress 0; " +
        "an error that mentions 'Job cancelled' is still a failure") {
      val (store, job) = make(false)
      val id = job.spec.id
      // a job that had reported progress before it failed
      store.update(id)(_.copy(progress = 40))
      assert(store.run(spark, id) === "failed")
      val failed = store.get(id)
      assert(failed.status === "failed" && failed.startedAt.isDefined)
      assert(failed.error.exists(_.contains("Job cancelled")), failed.error)
      assert(failed.canceledAt.isEmpty)
      store.resume(id)
      val resumed = store.get(id)
      assert(resumed.status === "queued" && resumed.progress === 0)
      assert(resumed.error.isEmpty && resumed.failedAt.isEmpty)
    }
  }

  kind[EmbeddingJobs.JobSpec]("embedding") { ok =>
    val s = new EmbeddingJobs.JobStore(dir())
    (s, if (ok) s.add("/src", "id", "text", "emb", "5e-4")
      else s.add(missing, "id", "text", "emb", "hash/bow-64"))
  }
  kind[AutotuneJobs.AutotuneSpec]("autotune") { ok =>
    val s = new AutotuneJobs.AutotuneStore(dir())
    (s, if (ok) s.add("/src", "id", "vec", targetRecall = 5e-4)
      else s.add(missing, "id", "vec"))
  }
  kind[DedupJobs.DedupSpec]("dedup") { ok =>
    val s = new DedupJobs.DedupStore(dir())
    (s, if (ok) s.add("/src", "id", "text", tau = 5e-4)
      else s.add(missing, "id", "text"))
  }
  kind[IndexMaintenanceJobs.MaintSpec]("index maintenance") { ok =>
    val s = new IndexMaintenanceJobs.MaintStore(dir())
    (s, s.add(if (ok) "/idx/5e-4" else missing, "id", "vec"))
  }

  // a job file as the per-kind serializers wrote it
  private def legacy(file: String, json: String): Unit =
    Files.writeString(Paths.get(file), json)

  test("job files written before the shared lifecycle load to the same " +
      "state and status") {
    val base = dir()
    val emb = new EmbeddingJobs.JobStore(s"$base/emb")
    legacy(s"$base/emb/job_3.json",
      """{"id":3,"sourceDir":"/data/src","pkCol":"id","srcCol":"text",""" +
        """"outCol":"emb","model":"hash/bow-64","runtime":"hash",""" +
        """"workDir":"/data/work_3","createdAt":"2026-01-01T00:00:00Z",""" +
        """"initStartedAt":"2026-01-01T00:00:01Z",""" +
        """"initFinishedAt":"2026-01-01T00:00:02Z","canceledAt":null,""" +
        """"failedAt":null,"error":null,"progress":97}""")
    val e = emb.get(3)
    assert(e === Job(EmbeddingJobs.JobSpec(3, "/data/src", "id", "text",
      "emb", "hash/bow-64", "hash", "/data/work_3"),
      "2026-01-01T00:00:00Z", startedAt = Some("2026-01-01T00:00:01Z"),
      finishedAt = Some("2026-01-01T00:00:02Z"), progress = 97))
    assert(e.status === "enabled")

    val at = new AutotuneJobs.AutotuneStore(s"$base/at")
    legacy(s"$base/at/autotune_1.json",
      """{"id":1,"sourceDir":"/v","idCol":"vec_id","vecCol":"embedding",""" +
        """"metric":"cos","targetRecall":99.9,"k":10,"sampleN":10000,""" +
        """"workDir":"/w","createdAt":"c","startedAt":"s",""" +
        """"finishedAt":null,"canceledAt":"x","failedAt":null,""" +
        """"error":"Job cancelled","progress":30,"best":null}""")
    val a = at.get(1)
    assert(a === Job(AutotuneJobs.AutotuneSpec(1, "/v", "vec_id",
      "embedding", "cos", 99.9, 10, 10000, "/w"), "c", startedAt = Some("s"),
      canceledAt = Some("x"), error = Some("Job cancelled"), progress = 30))
    assert(a.status === "canceled")

    val dd = new DedupJobs.DedupStore(s"$base/dd")
    legacy(s"$base/dd/dedup_2.json",
      """{"id":2,"sourceDir":"/docs","idCol":"doc_id","textCol":"text",""" +
        """"tau":5.0E-4,"workDir":"/w2","createdAt":"c","startedAt":"s",""" +
        """"finishedAt":null,"canceledAt":null,"failedAt":"f",""" +
        """"error":"bad \"path\" C:\\x","progress":50,"dupCount":null}""")
    val d = dd.get(2)
    assert(d === Job(DedupJobs.DedupSpec(2, "/docs", "doc_id", "text", 5e-4,
      "/w2"), "c", startedAt = Some("s"), failedAt = Some("f"),
      error = Some("bad \"path\" C:\\x"), progress = 50))
    assert(d.status === "failed")

    val mt = new IndexMaintenanceJobs.MaintStore(s"$base/mt")
    legacy(s"$base/mt/maint_4.json",
      """{"id":4,"indexPath":"/idx","idCol":"vec_id","vecCol":"embedding",""" +
        """"maxFilesPerCell":2,"targetFilesPerCell":1,"createdAt":"c",""" +
        """"startedAt":null,"finishedAt":null,"canceledAt":null,""" +
        """"failedAt":null,"error":null,"progress":0,"filesBefore":null,""" +
        """"filesAfter":null,"compacted":null}""")
    val m = mt.get(4)
    assert(m === Job(IndexMaintenanceJobs.MaintSpec(4, "/idx", "vec_id",
      "embedding", 2, 1), "c"))
    assert(m.status === "queued")
    legacy(s"$base/mt/maint_5.json",
      """{"id":5,"indexPath":"/idx","idCol":"vec_id","vecCol":"embedding",""" +
        """"maxFilesPerCell":2,"targetFilesPerCell":1,"createdAt":"c",""" +
        """"startedAt":"s","finishedAt":"f","canceledAt":null,""" +
        """"failedAt":null,"error":null,"progress":100,""" +
        """"filesBefore":"34","filesAfter":"8","compacted":"true"}""")
    val m5 = mt.get(5)
    assert(m5.status === "enabled" && m5.progress === 100)
    assert(m5.results.toSeq === Seq("filesBefore" -> "34",
      "filesAfter" -> "8", "compacted" -> "true"))

    // the shared writer reads back what it writes from the old files
    def rewritten[S <: JsonJobStore.Spec](s: JsonJobStore[S], id: Long) = {
      s.write(s.get(id)); s.get(id)
    }
    assert(rewritten(emb, 3) === e && rewritten(at, 1) === a &&
      rewritten(dd, 2) === d && rewritten(mt, 5) === m5)
  }
}
