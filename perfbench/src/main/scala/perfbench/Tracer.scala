package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around the benchmark's calls into each engine layer, with Spark
  * listener counters attributed to them.
  *
  * A span sets a Spark local property on its thread, so every job that
  * thread submits (and every job of a thread it starts, such as a
  * streaming query) names its span. Jobs submitted by threads the
  * benchmark does not own, such as the HTTP server's dispatcher, carry
  * no span and are attributed by time window to the innermost span open
  * when they were submitted. Tasks are attributed through their stage's
  * job. With tracing off, `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  final class Span(val id: Int, val name: String, val parent: Int,
      val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = -1L
    @volatile var endNs: Long = -1L
    def durNs: Long = endNs - startNs
  }

  private final class JobRec(val id: Int, val submitMs: Long,
      val stages: Seq[Int], val spanProp: Int) {
    @volatile var endMs: Long = -1L
    @volatile var firstLaunchMs: Long = Long.MaxValue
  }

  private final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
    var peakMem = 0L
    val taskMs = ArrayBuffer.empty[Long]
  }

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  private val nextId = new AtomicInteger(1)
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p =>
        Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, e.stageIds, prop))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val info = e.taskInfo
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => j.firstLaunchMs = math.min(j.firstLaunchMs,
          info.launchTime))
      a.synchronized {
        a.tasks += 1
        a.taskMs += info.duration
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecords += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val s = new Span(nextId.getAndIncrement(), name,
        if (parent == null) 0 else parent.id,
        System.currentTimeMillis(), System.nanoTime())
      spans.add(s)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      current.set(s)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        current.set(parent)
        sc.setLocalProperty(PropKey, prev)
      }
    }

  /** Wait until the listener bus has delivered every event so far: run a
    * marker job and wait for its end event.
    */
  def drain(): Unit = if (enabled) {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, MarkerSpan.toString)
    val before = jobs.size
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(PropKey, prev)
    val deadline = System.currentTimeMillis() + 20000
    def done = jobs.values.asScala.exists(j =>
      j.spanProp == MarkerSpan && j.endMs >= 0 && jobs.size > before)
    while (!done && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Counters of all spans with one name (inclusive of child spans). */
  final case class Summary(name: String, count: Int, totalS: Double,
      selfS: Double, jobs: Int, tasks: Long, taskCpuS: Double,
      gcS: Double, shuffleBytes: Long, spillBytes: Long,
      inputBytes: Long, inputRecords: Long, outputBytes: Long,
      peakExecMemMb: Double, taskSkew: Double,
      planningMsP50: Double, planningJobsPerCall: Double,
      jobsPerCall: Double, schedWaitMsP50: Double, jobMsPerCall: Double)

  /** Aggregate every span by name. Call after [[drain]]. */
  def summaries(): Seq[Summary] = {
    val all = spans.asScala.toSeq.filter(_.endNs >= 0)
    val byId = all.map(s => s.id -> s).toMap
    val kids = all.groupBy(_.parent)
    // job -> owning span id
    val jobSpan: Map[Int, Int] = jobs.values.asScala.toSeq
      .filter(_.spanProp != MarkerSpan).flatMap { j =>
        val direct = byId.get(j.spanProp).filter(s =>
          j.submitMs <= s.endMs + 1)
        direct.orElse {
          all.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
            .sortBy(s => (-s.startMs, -s.id)).headOption
        }.map(s => j.id -> s.id)
      }.toMap
    val jobsOf = jobSpan.groupBy(_._2).map { case (s, m) => s -> m.keys.toSeq }
    def subtree(s: Span): Seq[Span] =
      s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    // duration minus the part of it child spans cover
    def selfNs(s: Span): Double = s.durNs - union(kids.getOrElse(s.id, Nil)
      .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(x => x._2 > x._1))
    all.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val perCall = ss.map { s =>
        val js = subtree(s).flatMap(x => jobsOf.getOrElse(x.id, Nil))
          .flatMap(j => Option(jobs.get(j))).sortBy(_.submitMs)
        (s, js)
      }
      val allJobs = perCall.flatMap(_._2).distinct
      val aggs = allJobs.flatMap(_.stages).distinct
        .flatMap(st => Option(stages.get(st)))
      def sum(f: StageAgg => Long) = aggs.map(a => a.synchronized(f(a))).sum
      val taskMs = aggs.flatMap(a => a.synchronized(a.taskMs.toList))
        .map(_.toDouble)
      val planning = perCall.flatMap { case (s, js) =>
        js.headOption.map(j => (j.submitMs - s.startMs).toDouble) }
      // jobs submitted before the span's last job: the planning-time
      // jobs (probe collects, broadcasts) ahead of the result job
      val planningJobs = perCall.map(_._2.size - 1).filter(_ >= 0)
      val waits = perCall.map { case (_, js) =>
        js.filter(_.firstLaunchMs != Long.MaxValue)
          .map(j => (j.firstLaunchMs - j.submitMs).toDouble).sum }
      val jobMs = perCall.map { case (_, js) =>
        union(js.filter(_.endMs >= 0).map(j => (j.submitMs, j.endMs))) }
      Summary(name, ss.size, ss.map(_.durNs).sum / 1e9,
        ss.map(selfNs).sum / 1e9, allJobs.size, sum(_.tasks),
        sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3,
        sum(a => a.shuffleRead + a.shuffleWrite), sum(_.spill),
        sum(_.inBytes), sum(_.inRecords), sum(_.outBytes),
        aggs.map(a => a.synchronized(a.peakMem)).foldLeft(0L)(math.max) /
          1048576.0,
        if (taskMs.isEmpty) 0.0
        else taskMs.max / math.max(1.0, Stats.median(taskMs)),
        if (planning.isEmpty) 0.0 else Stats.median(planning),
        if (planningJobs.isEmpty) 0.0
        else planningJobs.sum.toDouble / planningJobs.size,
        allJobs.size.toDouble / ss.size,
        if (waits.isEmpty) 0.0 else Stats.median(waits),
        jobMs.sum / ss.size)
    }
  }

  /** Per-span-name self time and duration, for the trace artifact. */
  def spanTable(): Seq[scala.collection.Map[String, Any]] =
    summaries().map(s => Json.obj("span" -> s.name, "count" -> s.count,
      "total_s" -> s.totalS, "self_s" -> s.selfS, "jobs" -> s.jobs,
      "tasks" -> s.tasks, "task_cpu_s" -> s.taskCpuS, "gc_s" -> s.gcS,
      "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes,
      "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords,
      "output_bytes" -> s.outputBytes,
      "peak_exec_mem_mb" -> s.peakExecMemMb))

  /** Whole-run Spark counters over every job seen, marker excluded. */
  def totals(): (Double, Double, Long) = {
    val js = jobs.values.asScala.filter(_.spanProp != MarkerSpan)
    val aggs = js.flatMap(_.stages).toSeq.distinct
      .flatMap(st => Option(stages.get(st)))
    (aggs.map(a => a.synchronized(a.gcMs)).sum / 1e3,
      aggs.map(a => a.synchronized(a.peakMem)).foldLeft(0L)(math.max) /
        1048576.0,
      aggs.map(a => a.synchronized(a.spill)).sum)
  }
}

object Tracer {
  val PropKey = "perfbench.span"
  private val MarkerSpan = -1

  /** Length of the union of [start, end] intervals, in their unit. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L; var s = Long.MinValue; var e = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) covered += e - s; s = a; e = b }
      else e = math.max(e, b)
    }
    if (e > s) covered += e - s
    covered.toDouble
  }
}
