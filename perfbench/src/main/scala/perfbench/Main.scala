package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Runs one workload and prints its result.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     [--work <dir>] [--results <dir>]
  * }}}
  *
  * Standard output ends with one JSON line: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced). The line before it is the run's artifact:
  * the workload's own named metrics, set-up times, contention samples,
  * index paths, failures, and with tracing the span table and the
  * tracing overhead.
  */
object Main {

  val Workloads: Seq[Workload] =
    Seq(BuildPipeline, ServeHttp, IngestStream)

  /** The end-to-end metrics every workload reports, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "recall_at_10" -> "ratio",
    "index_bytes_per_input_byte" -> "ratio")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: --workload <" +
      Workloads.map(_.name).mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val workload = opts.get("workload").flatMap(w =>
      Workloads.find(_.name == w)).getOrElse(
        usage(s"unknown workload ${opts.getOrElse("workload", "")}"))
    val seed = opts.get("seed").flatMap(_.toLongOption)
      .getOrElse(usage("--seed needs an integer"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(usage("--seconds needs a positive integer"))
    val trace = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val work = Paths.get(opts.getOrElse("work",
      s".bench_work/run-${ProcessHandle.current().pid()}")).toAbsolutePath
    val results = Paths.get(opts.getOrElse("results", ".bench_work/results"))
      .toAbsolutePath
    Files.createDirectories(work.resolve("tmp"))
    Files.createDirectories(results)
    System.setProperty("java.io.tmpdir", work.resolve("tmp").toString)

    val threads = math.max(2, math.min(8,
      Runtime.getRuntime.availableProcessors()))
    val hostBefore = Host.sample()
    val cpu0 = Host.cpuTimes()
    // shuffle partitions = cores, as the engine's own Bench sizes them
    val spark = graft.GraftSession.builder(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.register(spark)

    val startS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, seed, seconds, tracer, work.toString, threads)
    val out = new Outcome
    val crashed =
      try { workload.run(ctx, out); None }
      catch { case e: Throwable => Some(e) }
    crashed.foreach { e =>
      e.printStackTrace()
      out.fail(s"workload aborted: $e")
    }
    if (trace && crashed.isEmpty) {
      tracer.drain()
      Layers.spark(out, tracer)
    }
    val cpu1 = Host.cpuTimes()
    val hostAfter = Host.sample()
    val e2e: Seq[(String, String, Double)] =
      if (crashed.isDefined) Nil
      else EndToEnd.map { case (n, u) =>
        val v = n match {
          case "setup_s" => Stats.median(out.setupS.toSeq)
          case "peak_rss_mb" => Host.peakRssMb()
          case other => out.e2e(other)
        }
        (n, u, v)
      }
    val resultFile = results.resolve(s"${workload.name}.untraced.json")
    val overhead =
      if (!trace || crashed.isDefined || !Files.exists(resultFile)) None
      else scala.util.Try {
        val prior = Files.readString(resultFile)
        e2e.flatMap { case (n, _, v) =>
          ("\"" + n + "\":(-?[0-9.Ee+-]+)").r.findFirstMatchIn(prior)
            .map(m => n -> (v - m.group(1).toDouble))
        }.toMap
      }.toOption
    if (!trace && crashed.isEmpty)
      Files.writeString(resultFile, Json.render(Json.obj(
        e2e.map { case (n, _, v) => n -> v }: _*)))

    val artifact = Json.obj(
      "perfbench" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "threads" -> threads, "jvm_start_s" -> startS,
      "workload_metrics" -> out.detail.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) },
      "setup_runs_s" -> out.setupS.toSeq,
      "host_before" -> hostBefore, "host_after" -> hostAfter,
      "steal_pct_run" -> Host.stealPct(cpu0, cpu1),
      "phases_s" -> out.phases, "notes" -> out.notes,
      "failures" -> out.failures.take(20).toSeq,
      "spans" -> (if (trace) tracer.spanTable() else Nil),
      "tracing_overhead" -> overhead)
    println(Json.render(artifact))

    val correct = crashed.isEmpty && out.failures.isEmpty
    val metrics: Seq[(String, String, Double)] =
      if (crashed.isDefined) Nil
      else if (trace) Layers.All.map { case (n, u) =>
        (n, u, out.layers.getOrElse(n, 0.0)) }
      else e2e
    val attempted = math.max(1L, out.attempted)
    println(Json.render(Json.obj(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> math.min(attempted, math.max(out.failures.size.toLong,
        if (crashed.isDefined) 1L else 0L)),
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    spark.stop()
    Host.deleteTree(work)
    sys.exit(if (correct) 0 else 1)
  }
}
