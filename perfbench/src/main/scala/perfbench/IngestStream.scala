package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.IvfIndex
import graft.streaming.VectorIngestStream

/** ingest_stream: open loop. Parquet vector files land in a file-source
  * directory on a fixed schedule below saturation, and
  * `VectorIngestStream.start` appends them into a live IVF index while a
  * closed-loop reader runs `openModel` + `search`. The run starts by
  * draining a pre-landed backlog and ends with
  * `VectorIngestStream.compact`. The index takes writes beside reads
  * here (append under a frozen quantizer, growing file debt,
  * compaction), and the streaming module is measured nowhere else.
  */
object IngestStream extends Workload {
  val name = "ingest_stream"
  val Resident = 5000
  val Dim = 64
  val Clusters = 8
  val Sigma = 1.0
  val Cells = 16
  val MaxIter = 5
  val NProbe = 4
  val K = 10
  val FileRows = 100
  val BacklogFiles = 100
  val LandEveryMs = 100
  val MaxFilesPerTrigger = 20
  val RecallQueries = 50
  val SetupReps = 2
  val WarmRows = 2000

  /** A micro-batch as its progress event reports it. */
  final case class Batch(id: Long, doneMs: Long, triggerMs: Long,
      addBatchMs: Long, rows: Long)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val seed = ctx.seed
    val mix = Gen.mixture(Gen.subSeed(seed, "mixture"), Dim, Clusters, Sigma)
    val resident = Resident
    val backlog = BacklogFiles
    val scheduled = ctx.seconds * 1000 / LandEveryMs
    def span[T](n: String)(b: => T): T = ctx.span(n)(b)

    // set-up: a small untimed index takes the first-call costs, then each
    // timed repetition indexes a fresh resident corpus into a new path
    def build(tag: String, n: Int, r: Int, spanName: String)
        : (Array[Array[Float]], String, Double) = {
      val v = Gen.sample(mix, Gen.subSeed(seed, tag, r), n)
      val src = ctx.path(s"${tag}_$r")
      Workload.writeVectors(spark, src, Array.tabulate(n)(_.toLong), v,
        ctx.threads)
      val dir = ctx.path(s"index_${tag}_$r")
      val (_, s) = Workload.time(span(spanName)(
        IvfIndex.build(spark.read.parquet(src), "id", "vec", Cells,
          maxIter = MaxIter, seed = Gen.subSeed(seed, s"kmeans_$tag", r),
          indexDir = Some(dir))))
      (v, dir, s)
    }
    build("warm", WarmRows, 0, "warm")
    val reps = (0 until SetupReps).map(r => build("resident", resident, r,
      "ivf.build"))
    reps.foreach(r => out.setupS += r._3)
    val vecs = reps.last._1
    val idx = reps.last._2
    val dirs = reps.map(_._2)
    out.notes("index_paths") = dirs
    out.phase("set_up", ctx)
    val byId = collection.mutable.HashMap.empty[Long, Array[Float]]
    vecs.indices.foreach(i => byId(i.toLong) = vecs(i))

    // every file the run will land, written up front outside any timing
    val nFiles = backlog + scheduled
    val staged = ctx.path("staged")
    val landed = Paths.get(ctx.path("landing"))
    Files.createDirectories(landed)
    val arrivals = Gen.sample(mix, Gen.subSeed(seed, "arrivals"),
      nFiles * FileRows)
    val arrivalIds = Array.tabulate(arrivals.length)(i => resident + i.toLong)
    arrivalIds.indices.foreach(i => byId(arrivalIds(i)) = arrivals(i))
    Workload.writeVectors(spark, staged, arrivalIds, arrivals, nFiles)
    val files = Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      .sortBy(_.getFileName.toString)
    require(files.size == nFiles, s"staged ${files.size} files, not $nFiles")
    def land(i: Int): Long = {
      Files.move(files(i), landed.resolve(f"f$i%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    val landedAt = new Array[Long](nFiles)
    (0 until backlog).foreach(i => landedAt(i) = land(i))

    val batches = new ConcurrentLinkedQueue[Batch]()
    val ckpt = ctx.path("checkpoint")
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
          : Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def dur(k: String): Long = Option(d.get(k)).map(_.longValue)
          .getOrElse(0L)
        if (p.numInputRows > 0)
          batches.add(Batch(p.batchId,
            java.time.Instant.parse(p.timestamp).toEpochMilli +
              dur("triggerExecution"),
            dur("triggerExecution"), dur("addBatch"), p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    val lateness = ArrayBuffer.empty[Double]
    // each read: query, its answer or why it threw, and its latency
    val reads = new ConcurrentLinkedQueue[(Array[Float],
      Either[String, Seq[Checks.Nn]], Double)]()
    @volatile var reading = true
    try span("stream.ingest") {
      val stream = spark.readStream.schema(Workload.VecSchema)
        .option("maxFilesPerTrigger", MaxFilesPerTrigger)
        .parquet(landed.toString)
      val query = VectorIngestStream.start(spark, stream, "id", "vec", idx,
        ckpt)
      try {
        // catch-up: drain the pre-landed backlog
        query.processAllAvailable()
        out.phase("catch_up", ctx)
        // closed-loop reader beside the writer
        val reader = new Worker("perfbench-reader")({
          var i = 0
          while (reading) {
            val q = Gen.sample(mix, Gen.subSeed(seed, "read", i), 1)(0)
            val t = System.nanoTime()
            val rows = Workload.attempt(span("ivf.search") {
              val df = span("ivf.search.plan") {
                val m = VectorIngestStream.openModel(spark, idx, "id", "vec")
                IvfIndex.search(m, Workload.queries(spark, i.toLong,
                  Seq(q)), K, NProbe)
              }
              span("ivf.search.run")(Workload.collectNn(df))
            })
            reads.add((q, rows, (System.nanoTime() - t) / 1e6))
            i += 1
          }
        })
        try {
          // open loop: file j is due at t1 + j * LandEveryMs whatever the
          // stream is doing; lateness is how far behind the lander ran
          val t1 = System.currentTimeMillis()
          (0 until scheduled).foreach { j =>
            val due = t1 + j.toLong * LandEveryMs
            val wait = due - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            val at = land(backlog + j)
            landedAt(backlog + j) = at
            lateness += (at - due).toDouble
          }
          query.processAllAvailable()
        } finally {
          reading = false
          reader.join().foreach(e => out.check(Some(s"reader died: $e")))
        }
      } finally query.stop()
    } finally spark.streams.removeListener(listener)
    out.phase("measure", ctx)

    // which batch committed each file: the file source's own log
    val fileBatch = sourceLog(s"$ckpt/sources/0")
    val bs = batches.asScala.toSeq.sortBy(_.id)
    val doneAt = bs.map(b => b.id -> b.doneMs).toMap
    val fresh = (0 until nFiles).flatMap { i =>
      fileBatch.get(f"f$i%05d.parquet").flatMap(doneAt.get)
        .map(d => (i, (d - landedAt(i)).toDouble))
    }
    if (fresh.size != nFiles)
      out.fail(s"${nFiles - fresh.size} landed files have no committing batch")
    val scheduledFresh = fresh.filter(_._1 >= backlog).map(_._2)
    // drain rate: the median over the batches that committed the backlog
    // of rows per second of batch execution (the backlog is drained before
    // any scheduled file lands, so those batches hold only backlog files)
    val backlogBatches = (0 until backlog).flatMap(i =>
      fileBatch.get(f"f$i%05d.parquet")).toSet
    val drainRate = Stats.median(bs.filter(b => backlogBatches(b.id))
      .map(b => b.rows * 1000.0 / math.max(1L, b.triggerMs)))
    val filesBefore = Host.dirStats(idx)._2

    // compaction into a new directory, then the exactly-once check
    val target = ctx.path("compacted")
    val (compacted, compactS) = Workload.time(span("ivf.compact")(
      VectorIngestStream.compact(spark, idx, "id", "vec", target)))
    val expected = byId.keySet.toSet
    val held = compacted.assigned.select("id").collect().map(_.getLong(0))
    Checks.exactlyOnce(held.toSeq, expected).take(20).foreach(out.fail)
    out.attempted += nFiles

    // reader answers: in order, distances recomputed, ids known
    reads.asScala.foreach {
      case (_, Left(err), _) => out.check(Some(s"reader: $err"))
      case (q, Right(rows), _) =>
        val err = if (rows.size != K) Some(s"reader got ${rows.size} rows")
          else None
        out.check(err.orElse {
          val sorted = rows.sortBy(_.rank)
          Checks.answer(sorted, q, sorted.map(r => Truth.Hit(r.nid, r.dist))
            .toArray, byId.get)._1
        })
    }
    // recall of the compacted index against brute force over every row
    val allIds = byId.keys.toArray.sorted
    val allVecs = allIds.map(byId)
    val qs = Gen.sample(mix, Gen.subSeed(seed, "recall"), RecallQueries)
      .toSeq
    val res = Workload.collectNn(IvfIndex.search(compacted,
      Workload.queries(spark, 0L, qs), K, NProbe)).groupBy(_.qid)
    val truth = Truth.knn(allIds, allVecs, qs.toIndexedSeq, K, ctx.threads)
    var hits = 0L
    qs.indices.foreach { qi =>
      val (err, h) = Checks.answer(res.getOrElse(qi.toLong, Seq.empty),
        qs(qi), truth(qi), byId.get)
      out.check(err)
      hits += h
    }
    out.phase("check", ctx)
    val rawBytes = expected.size.toLong * (8 + 4 * Dim)
    val (compactBytes, _) = Host.dirStats(target)
    val freshAll = fresh.map(_._2)
    val readMs = reads.asScala.toSeq.map(_._3)
    out.e2e("throughput_per_s") = drainRate
    out.e2e("latency_p50_ms") = Stats.median(scheduledFresh)
    out.e2e("recall_at_10") = hits.toDouble / (qs.size * K)
    out.e2e("index_bytes_per_input_byte") = compactBytes.toDouble / rawBytes
    out.detail("ingest_rows_per_s") = (drainRate, "1/s")
    out.detail("freshness_p50_ms") = (Stats.median(scheduledFresh), "ms")
    Stats.tailPercentile(scheduledFresh.size).foreach { p =>
      out.detail(f"freshness_p$p%.0f_ms") =
        (Stats.percentile(scheduledFresh, p), "ms")
    }
    if (readMs.nonEmpty)
      out.detail("stream_search_p50_ms") = (Stats.median(readMs), "ms")
    out.detail("index_bytes_per_input_byte") =
      (compactBytes.toDouble / rawBytes, "ratio")
    out.detail("lander_late_ms_max") = (lateness.maxOption.getOrElse(0.0),
      "ms")
    out.notes("files") = nFiles
    out.notes("batches") = bs.size
    // rows, trigger and addBatch milliseconds of every batch, in order
    out.notes("batch_ms") = bs.map(b =>
      Seq(b.rows, b.triggerMs, b.addBatchMs))
    out.notes("reads") = readMs.size
    out.notes("compacted_path") = target

    if (ctx.tracer.enabled) {
      ctx.tracer.drain()
      val sum = ctx.tracer.summaries().map(s => s.name -> s).toMap
      out.layers("stream.batches") = bs.size
      out.layers("stream.trigger_ms_p50") = Stats.median(
        bs.map(_.triggerMs.toDouble))
      out.layers("stream.add_batch_ms_p50") = Stats.median(
        bs.map(_.addBatchMs.toDouble))
      // scheduled files landed but not yet committed, at each landing
      val commits = fresh.collect { case (i, f) if i >= backlog =>
        landedAt(i) + f }
      out.layers("stream.backlog_files_max") = (backlog until nFiles).map {
        i => (i - backlog + 1) - commits.count(_ <= landedAt(i))
      }.maxOption.getOrElse(0).toDouble
      out.layers("stream.rows_per_batch") = Stats.median(
        bs.map(_.rows.toDouble))
      out.layers("stream.files_per_cell") = filesBefore.toDouble / Cells
      out.layers("ivf.compact_s") = compactS
      out.layers("ivf.compact_bytes_rewritten") = compactBytes.toDouble
      sum.get("ivf.search").foreach { s =>
        Layers.search(out, s, sum.get("ivf.search.plan"), expected.size,
          NProbe, Cells, Workload.distanceEvals(compacted.centroids,
            Workload.cellSizes(compacted), reads.asScala.toSeq.map(_._1),
            NProbe) , Dim)
      }
      Layers.build(out, sum("ivf.build"), Resident.toLong * Cells *
        (MaxIter + 1), Host.dirStats(dirs.last)._2)
    }
  }

  /** File name -> batch id, from a file source's metadata log (one JSON
    * entry per line after the version line, in plain and compacted
    * batch files).
    */
  def sourceLog(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Map.empty
    else {
      val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
      Files.list(p).iterator().asScala
        .filter(f => !f.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(l => entry.findFirstMatchIn(l))
        .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
    }
  }
}
