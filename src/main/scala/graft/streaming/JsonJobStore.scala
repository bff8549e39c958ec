package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.util.{Json, MiniJson}

/** The one lifecycle of the daemon job kinds (embedding, autotune,
  * dedup, index maintenance) — the reference's jobs table, where every
  * kind is a row with the same timestamps and one status CASE
  * (`lantern_extras/src/daemon.rs:197-234`).
  *
  * Storage: one flat JSON object per job, atomically replaced, with
  * synchronized read-modify-write (a worker's progress update racing a
  * user's cancel must not drop the cancel) and max-id+1 allocation.
  * The file holds "id", the spec fields, the lifecycle fields and the
  * result fields, in that order.
  *
  * Each kind supplies only its file prefix, its spec fields
  * ([[specFields]] / [[readSpec]]) and its [[work]] body, which
  * reports progress and returns the result fields.
  */
abstract class JsonJobStore[S <: JsonJobStore.Spec](dir: String,
    filePrefix: String) {
  import JsonJobStore._
  Files.createDirectories(Paths.get(dir))

  /** The spec's fields after "id", as strings or numbers. */
  protected def specFields(s: S): Seq[(String, Any)]
  protected def readSpec(f: MiniJson.Fields): S

  /** Run one job to completion and return its result fields. Throw
    * [[JobCancelled]] (or let [[Progress]] throw it) to stop on a
    * user cancel; any other exception fails the job.
    */
  protected def work(spark: SparkSession, job: Job[S],
      progress: Progress): Seq[(String, String)]

  /** What a running job reports through. */
  final class Progress private[JsonJobStore] (id: Long) {
    /** Record progress, then stop if the user canceled. */
    def report(pct: Int): Unit = {
      update(id)(_.copy(progress = pct))
      checkCancel()
    }
    def checkCancel(): Unit =
      if (get(id).canceledAt.isDefined) throw new JobCancelled
  }

  private def path(id: Long) = Paths.get(dir, s"$filePrefix$id.json")

  private def ser(j: Job[S]): String = {
    def opt(o: Option[String]) = o.fold("null")(Json.quote)
    val spec = (("id" -> j.spec.id) +: specFields(j.spec)).map {
      case (k, v: String) => k -> Json.quote(v)
      case (k, v) => k -> v.toString
    }
    val lifecycle = Seq("createdAt" -> Json.quote(j.createdAt),
      "startedAt" -> opt(j.startedAt), "finishedAt" -> opt(j.finishedAt),
      "canceledAt" -> opt(j.canceledAt), "failedAt" -> opt(j.failedAt),
      "error" -> opt(j.error), "progress" -> j.progress.toString)
    (spec ++ lifecycle ++ j.results.map { case (k, v) => k -> Json.quote(v) })
      .map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
  }

  private def deser(json: String): Job[S] = {
    val f = MiniJson.fields(json)
    val spec = readSpec(f)
    val known = LifecycleKeys ++ specFields(spec).map(_._1) + "id"
    // embedding jobs wrote their run timestamps as init*At
    def ts(k: String) = f.str(k).orElse(f.str("init" + k.capitalize))
    Job(spec, f.str("createdAt").get, ts("startedAt"), ts("finishedAt"),
      f.str("canceledAt"), f.str("failedAt"), f.str("error"),
      f.int("progress").getOrElse(0),
      VectorMap.from(f.map.collect {
        case (k, v: String) if !known(k) => k -> v
      }))
  }

  def write(j: Job[S]): Unit = synchronized {
    val tmp = Paths.get(dir, s".$filePrefix${j.spec.id}.tmp")
    Files.writeString(tmp, ser(j))
    Files.move(tmp, path(j.spec.id), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def get(id: Long): Job[S] = {
    require(Files.exists(path(id)), s"no such job: $filePrefix$id")
    deser(Files.readString(path(id)))
  }

  def update(id: Long)(f: Job[S] => Job[S]): Job[S] =
    synchronized { val j = f(get(id)); write(j); j }

  def list(): Seq[Job[S]] = {
    val stream = Files.list(Paths.get(dir))
    try stream.iterator().asScala
      .filter(_.getFileName.toString.startsWith(filePrefix))
      .map(p => deser(Files.readString(p)))
      .toSeq.sortBy(_.spec.id)
    finally stream.close()
  }

  /** Add a queued job whose spec is built from its new id. */
  protected def create(spec: Long => S): Job[S] = synchronized {
    val id = list().map(_.spec.id).foldLeft(0L)(math.max) + 1
    val j = Job(spec(id), now())
    write(j); j
  }

  /** F14: cancel / resume. Resume goes back to queued, so it also
    * clears startedAt and progress, which a job failed or canceled
    * mid-run still carries.
    */
  def cancel(id: Long): Job[S] =
    update(id)(_.copy(canceledAt = Some(now())))
  def resume(id: Long): Job[S] =
    update(id)(_.copy(canceledAt = None, failedAt = None, error = None,
      startedAt = None, progress = 0))

  /** Run one job; returns its terminal status. */
  def run(spark: SparkSession, id: Long): String =
    runWith(id)(work(spark, _, _))

  /** The run wrapper around a work body: a canceled job does not
    * start; otherwise startedAt, the body, then finishedAt and the
    * results — or the cancel or failure it ended in.
    */
  protected def runWith(id: Long)(
      body: (Job[S], Progress) => Seq[(String, String)]): String = {
    val job = get(id)
    if (job.canceledAt.isDefined) {
      // canceledAt stays the terminal marker: the status CASE ranks
      // failed above canceled, so recording failedAt here would
      // misreport a user cancel as a failure
      update(id)(_.copy(error = Some(Cancelled)))
      return "canceled"
    }
    update(id)(_.copy(startedAt = Some(now())))
    try {
      val results = body(job, new Progress(id))
      update(id)(_.copy(finishedAt = Some(now()),
        results = VectorMap.from(results)))
      "enabled"
    } catch {
      // a cancel raised inside a Spark job arrives wrapped
      case e: Throwable if Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).exists(_.isInstanceOf[JobCancelled]) =>
        update(id)(_.copy(error = Some(Cancelled)))
        "canceled"
      case e: Throwable =>
        update(id)(_.copy(failedAt = Some(now()),
          error = Some(Option(e.getMessage).getOrElse(e.toString)
            .linesIterator.nextOption().getOrElse(e.getClass.getName))))
        "failed"
    }
  }

  /** Run every queued job once (the daemon loop body under
    * AvailableNow semantics — collect_pending_index_jobs analog).
    */
  def drain(spark: SparkSession): Seq[(Long, String)] =
    list().filter(_.status == "queued")
      .map(j => j.spec.id -> run(spark, j.spec.id))

  /** Continuous daemon: poll the store for queued jobs until `stop`
    * (the notification listener + worker loop of the reference daemon —
    * new job files are the notifications). Returns the number of jobs
    * executed.
    */
  def runDaemon(spark: SparkSession, pollMs: Long = 1000,
      stop: () => Boolean): Long = {
    var executed = 0L
    while (!stop()) {
      executed += drain(spark).size
      val deadline = System.nanoTime() + pollMs * 1000000L
      while (!stop() && System.nanoTime() < deadline)
        Thread.sleep(math.min(pollMs, 25L))
    }
    executed
  }
}

object JsonJobStore {

  /** A job kind's spec: its id plus the kind's own fields. */
  trait Spec { def id: Long }

  /** One job's state. Results are the kind's output fields, recorded
    * when the job finishes.
    */
  final case class Job[S](spec: S, createdAt: String,
      startedAt: Option[String] = None,
      finishedAt: Option[String] = None,
      canceledAt: Option[String] = None,
      failedAt: Option[String] = None,
      error: Option[String] = None,
      progress: Int = 0,
      results: VectorMap[String, String] = VectorMap.empty) {
    /** F12's CASE over timestamps:
      * failed > canceled > enabled > in_progress > queued.
      */
    def status: String =
      if (failedAt.isDefined) "failed"
      else if (canceledAt.isDefined) "canceled"
      else if (finishedAt.isDefined) "enabled"
      else if (startedAt.isDefined) "in_progress"
      else "queued"
  }

  /** A user cancel stopping a running job (D8). */
  final class JobCancelled extends RuntimeException(Cancelled)

  /** The error a canceled job reports (the reference's wording). */
  val Cancelled = "Job cancelled"

  private val LifecycleKeys = Set("createdAt", "startedAt", "finishedAt",
    "initStartedAt", "initFinishedAt", "canceledAt", "failedAt", "error",
    "progress")

  private def now(): String = Instant.now().toString
}
