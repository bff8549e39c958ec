package perfbench

import org.apache.spark.sql.functions.col

import graft.embed.{EmbeddingPipeline, HashEmbeddingRuntime}
import graft.operators.{Autotune, Dedup, IvfIndex, ProductQuantizer}

/** build_pipeline: one closed-loop driver makes passes over fresh seeded
  * text corpora. Each pass deduplicates (MinHash pairs + connected
  * components), embeds the survivors with the hash runtime, fits and
  * applies a product quantizer, builds an IVF index, and sweeps the
  * four storage kinds' recall grid on a sample. The build side does
  * most of the work here and search almost none.
  *
  * There is no warm-up: a batch pipeline runs once per JVM in practice,
  * so the first pass pays code generation and class loading as a user's
  * job does. With `--seconds` shorter than a pass, a run is one pass.
  */
object BuildPipeline extends Workload {
  val name = "build_pipeline"
  val Docs = 3000
  val Spec = Gen.TextSpec()
  val Model = "hash/bow-64"
  val Dim = 64
  val Cells = 16
  val MaxIter = 5
  val PqClusters = 16
  val PqSplits = 8
  val GridSample = 1000
  val GridQueries = 20
  val GridCells = 16
  val RecallQueries = 100
  val NProbe = 4
  val K = 10
  val Tau = 0.5
  val SetupReps = 3

  /** What one pass produced, for the checks after the timed loop. */
  final case class Pass(corpus: Gen.TextCorpus, seconds: Double,
      reported: Set[(Long, Long)], dupIds: Set[Long], embPath: String,
      pqPath: String, model: IvfIndex.Model, grid: Seq[(String, Int, Int)])

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val vocab = new Gen.Vocabulary(Spec, Gen.subSeed(ctx.seed, "vocab"))
    // set-up: open the corpus table a pass reads, over fresh copies
    (0 until SetupReps).foreach { r =>
      val c = Gen.textCorpus(vocab, Spec, Gen.subSeed(ctx.seed, "setup", r),
        Docs)
      val p = writeDocs(ctx, c, s"setup_$r")
      out.setupS += Workload.time(spark.read.parquet(p).count())._2
    }
    out.phase("set_up", ctx)

    val passes = collection.mutable.ArrayBuffer.empty[Pass]
    val deadline = ctx.deadlineNs
    while (System.nanoTime() < deadline || passes.isEmpty)
      passes += pass(ctx, vocab, Gen.subSeed(ctx.seed, "pass", passes.size),
        Docs, s"p${passes.size}")
    out.phase("measure", ctx)

    // checks and recall, outside the timed passes
    var hits = 0L; var asked = 0L; var plantedFound = 0L; var reported = 0L
    var distanceEvals = 0L
    passes.zipWithIndex.foreach { case (p, pi) =>
      val texts = p.corpus.ids.zip(p.corpus.texts).toMap
      Checks.dupPairs(p.reported, p.corpus.planted, texts, Tau)
        .foreach(out.fail)
      out.attempted += p.corpus.planted.size
      plantedFound += (p.reported intersect p.corpus.planted).size
      reported += p.reported.size
      val survivors = p.corpus.ids.toSet -- p.dupIds
      val emb = spark.read.parquet(p.embPath).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      out.check(Checks.exactlyOnce(emb.map(_._1).toSeq, survivors)
        .headOption.map("embeddings: " + _))
      val codes = spark.read.parquet(p.pqPath).collect()
      out.check(Checks.exactlyOnce(codes.map(_.getLong(0)).toSeq, survivors)
        .headOption.orElse(codes.find(_.getSeq[Byte](1).length != PqSplits)
          .map(r => s"id ${r.getLong(0)}: PQ code length " +
            r.getSeq[Byte](1).length)).map("pq codes: " + _))
      out.check(Checks.exactlyOnce(
        p.model.assigned.select("id").collect().map(_.getLong(0)).toSeq,
        survivors).headOption.map("index: " + _))
      // the engine's own grid must agree: its f32 point at nprobe = all
      // cells matches the engine's exact top-k on every query
      out.check(p.grid.find(g => g._1 == "f32" && g._2 == GridCells) match {
        case Some((_, _, m)) if m == GridQueries * K => None
        case other => Some(s"f32 full-probe grid point: $other, " +
          s"expected ${GridQueries * K} matches")
      })
      // recall of the built index on fresh queries
      val ids = emb.map(_._1); val vecs = emb.map(_._2)
      val byId = emb.toMap
      val qs = queryVectors(vocab, Gen.subSeed(ctx.seed, "recall", pi),
        RecallQueries)
      val res = ctx.span("ivf.search") {
        val df = ctx.span("ivf.search.plan")(IvfIndex.search(p.model,
          Workload.queries(spark, 0L, qs).withColumnRenamed("vec", "emb"),
          K, NProbe))
        ctx.span("ivf.search.run")(Workload.collectNn(df))
      }.groupBy(_.qid)
      val truth = Truth.knn(ids, vecs, qs.toIndexedSeq, K, ctx.threads)
      qs.indices.foreach { qi =>
        val (err, h) = Checks.answer(res.getOrElse(qi.toLong, Seq.empty),
          qs(qi), truth(qi), byId.get)
        out.check(err)
        hits += h; asked += K
      }
      // the f32 index probed at every cell must equal brute force exactly
      val full = Workload.collectNn(IvfIndex.search(p.model,
        Workload.queries(spark, 0L, qs).withColumnRenamed("vec", "emb"), K,
        Cells)).groupBy(_.qid)
      qs.indices.foreach { qi =>
        out.check(Checks.answer(full.getOrElse(qi.toLong, Seq.empty), qs(qi),
          truth(qi), byId.get, exact = true)._1.map("full probe: " + _))
      }
      if (ctx.tracer.enabled)
        distanceEvals += Workload.distanceEvals(p.model.centroids,
          Workload.cellSizes(p.model), qs, NProbe)
    }
    out.phase("check", ctx)
    val paths = passes.map(_.model.indexPath)
    out.notes("index_paths") = paths.toSeq
    if (paths.distinct.size != paths.size)
      out.fail("timed builds reused an index path")

    val docs = passes.size.toLong * Docs
    val secs = passes.map(_.seconds).sum
    val inputBytes = passes.map(_.corpus.texts.map(_.length.toLong +
      8).sum).sum
    val indexBytes = passes.map(p => Host.dirStats(p.model.indexPath)._1)
      .sum
    out.e2e("throughput_per_s") = docs / secs
    out.e2e("latency_p50_ms") = Stats.median(passes.map(_.seconds * 1000))
    out.e2e("recall_at_10") = hits.toDouble / asked
    out.e2e("index_bytes_per_input_byte") = indexBytes.toDouble / inputBytes
    out.detail("pipeline_docs_per_s") = (docs / secs, "1/s")
    out.detail("dedup_pair_recall") = (plantedFound.toDouble /
      passes.map(_.corpus.planted.size).sum, "ratio")
    out.detail("recall_at_10") = (hits.toDouble / asked, "ratio")
    out.detail("index_bytes_per_input_byte") =
      (indexBytes.toDouble / inputBytes, "ratio")
    out.notes("passes") = passes.size
    out.notes("pass_s") = passes.map(_.seconds).toSeq

    if (ctx.tracer.enabled) {
      ctx.tracer.drain()
      val sum = ctx.tracer.summaries().map(s => s.name -> s).toMap
      val n = passes.size.toDouble
      val survivors = passes.map(p => Docs - p.dupIds.size).sum.toDouble
      val e = sum("embed")
      out.layers("embed.busy_s") = e.totalS / n
      out.layers("embed.rows_per_s") = survivors / e.totalS
      out.layers("embed.task_cpu_s") = e.taskCpuS / n
      val d = sum("dedup")
      out.layers("dedup.busy_s") = d.totalS / n
      out.layers("dedup.pairs_out") = reported / n
      out.layers("dedup.precision") =
        if (reported == 0) 0.0 else plantedFound.toDouble / reported
      out.layers("dedup.shuffle_bytes") = d.shuffleBytes / n
      out.layers("dedup.spill_bytes") = d.spillBytes / n
      out.layers("dedup.task_skew") = d.taskSkew
      val f = sum("pq.fit")
      out.layers("pq.fit_s") = f.totalS / n
      out.layers("pq.fit_jobs") = f.jobs / n
      out.layers("pq.encode_s") = sum("pq.encode").totalS / n
      val g = sum("autotune.grid")
      out.layers("autotune.grid_s") = g.totalS / n
      out.layers("autotune.grid_input_records") = g.inputRecords / n
      val rows = survivors / n
      Layers.build(out, sum("ivf.build"),
        (rows * Cells * (MaxIter + 1) + rows * PqClusters * PqSplits *
          MaxIter).toLong,
        Host.dirStats(passes.last.model.indexPath)._2)
      Layers.search(out, sum("ivf.search"), sum.get("ivf.search.plan"),
        rows.toLong, NProbe, Cells, distanceEvals, Dim)
    }
  }

  private def writeDocs(ctx: Ctx, c: Gen.TextCorpus, tag: String): String = {
    val p = ctx.path(s"docs_$tag")
    import ctx.spark.implicits._
    ctx.spark.sparkContext.parallelize(c.ids.zip(c.texts).toSeq, ctx.threads)
      .toDF("id", "text").write.parquet(p)
    p
  }

  /** Fresh query documents, embedded with the same model as the corpus. */
  private def queryVectors(vocab: Gen.Vocabulary, seed: Long,
      n: Int): Seq[Array[Float]] = {
    val r = new java.util.SplittableRandom(seed)
    Seq.fill(n)(HashEmbeddingRuntime.embedOne(vocab.doc(r).mkString(" "),
      Dim))
  }

  private def pass(ctx: Ctx, vocab: Gen.Vocabulary, seed: Long, docs: Int,
      tag: String): Pass = {
    val spark = ctx.spark
    val corpus = Gen.textCorpus(vocab, Spec, seed, docs)
    val docsPath = writeDocs(ctx, corpus, tag)
    val embPath = ctx.path(s"emb_$tag")
    val pqPath = ctx.path(s"pq_$tag")
    val gridQ = Workload.queries(spark, 0L,
      queryVectors(vocab, Gen.subSeed(seed, "gridq"), GridQueries))
      .withColumnRenamed("vec", "emb")
    val anchors = queryVectors(vocab, Gen.subSeed(seed, "anchors"),
      GridCells).toArray

    val t0 = System.nanoTime()
    val src = spark.read.parquet(docsPath)
    val (pairs, dupIds) = ctx.span("dedup") {
      val pr = Dedup.minhashDupPairs(src, "id", "text", tau = Tau)
      val cc = Dedup.connectedComponents(pr)
      (pr.select("i", "j").collect().map { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          (math.min(a, b), math.max(a, b))
        },
        cc.where(col("id") =!= col("component")).select("id").collect()
          .map(_.getLong(0)))
    }
    val survivors = src.where(!col("id").isin(
      dupIds.toIndexedSeq.map(Long.box): _*))
    ctx.span("embed") {
      EmbeddingPipeline.embedColumn(survivors, "text", "emb", Model,
        HashEmbeddingRuntime).select("id", "emb").write.parquet(embPath)
    }
    val emb = spark.read.parquet(embPath)
    val codebook = ctx.span("pq.fit") {
      ProductQuantizer.fitCodebook(emb, "id", "emb", PqClusters, PqSplits,
        maxIter = MaxIter, seed = seed)
    }
    ctx.span("pq.encode") {
      ProductQuantizer.quantizeColumn(emb, "emb", "pq", codebook)
        .select("id", "pq").write.parquet(pqPath)
    }
    val model = ctx.span("ivf.build") {
      IvfIndex.build(emb, "id", "emb", Cells, maxIter = MaxIter, seed = seed,
        indexDir = Some(ctx.path(s"index_$tag")))
    }
    val grid = ctx.span("autotune.grid") {
      Autotune.kindsRecallGrid(emb.where(col("id") < GridSample), gridQ,
        "id", "emb", anchors, k = K).collect()
        .map(r => (r.getAs[String]("kind"), r.getAs[Int]("nprobe"),
          r.getAs[Int]("matches"))).toSeq
    }
    val secs = (System.nanoTime() - t0) / 1e9
    Pass(corpus, secs, pairs.toSet, dupIds.toSet, embPath, pqPath, model,
      grid)
  }
}
