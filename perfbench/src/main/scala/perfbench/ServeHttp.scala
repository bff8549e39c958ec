package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.embed.HashEmbeddingRuntime
import graft.http.HttpApi

/** serve_http: closed loop, one client per core on its own keep-alive
  * connection, against an in-process `HttpApi` whose IVF index is built
  * with `POST /index` during set-up. Most requests search by vector at a
  * fixed nprobe; a share search by "text"+"model" and a share add a
  * `filter_column` predicate. Each request is one query, so Spark
  * planning, job launch and the single dispatcher thread dominate, not
  * the scan.
  */
object ServeHttp extends Workload {
  val name = "serve_http"
  val N = 10000
  val Dim = 64
  val Clusters = 8
  val Sigma = 1.0
  val Cells = 32
  val NProbe = 8
  val K = 10
  val Labels = 10
  val SetupReps = 2
  val WarmRows = 2000
  val WarmRequests = 2
  val TracedRequests = 20

  /** One request as sent and as answered. */
  final case class Req(qid: Long, kind: String, vec: Array[Float],
      label: Option[Int], code: Int, resp: String, ms: Double)

  /** POST a JSON body. A request that throws (refused, reset, timed
    * out) answers code -1 with the exception as its body, so the
    * response check counts it as a failed request.
    */
  def post(client: HttpClient, url: String, body: String): (Int, String) =
    Workload.attempt {
      val r = client.send(HttpRequest.newBuilder(URI.create(url))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json").build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }.fold(err => (-1, err), identity)

  def newClient(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def words(r: SplittableRandom): String =
    Seq.fill(8)(Gen.word(r.nextInt(2000))).mkString(" ")

  private def vecJson(v: Array[Float]): String =
    v.map(_.toString).mkString("[", ",", "]")

  val Kinds: Seq[String] = Seq("vector", "text", "filter")

  /** The timed mix: of every ten requests a client sends, eight search
    * by vector, one by text + model and one adds a filter. A fixed
    * cycle, not a random draw, so every run sends the same mix however
    * few requests it makes; clients start at spread-out points of it.
    */
  val Mix: IndexedSeq[String] =
    IndexedSeq.fill(4)("vector") ++ Seq("text") ++
      IndexedSeq.fill(4)("vector") ++ Seq("filter")

  private def mixKind(clients: Int)(c: Int, i: Int): String =
    Mix((i + c * Mix.size / clients) % Mix.size)

  /** A request of one kind: query vector (text requests carry the
    * embedding the server will compute), filter label, JSON body.
    */
  private def request(kind: String, mix: Gen.Mixture, r: SplittableRandom,
      seed: Long): (Array[Float], Option[Int], String) =
    if (kind == "text") {
      val t = words(r)
      (HashEmbeddingRuntime.embedOne(t, Dim), None,
        s"""{"text":"$t","model":"hash/bow-$Dim","k":$K,"nprobe":$NProbe,""" +
          """"vector_column":"vec","id_column":"id"}""")
    } else {
      val v = Gen.sample(mix, seed, 1)(0)
      val label = if (kind == "filter") Some(r.nextInt(Labels)) else None
      val filter = label.fold("")(l =>
        s""","filter_column":"label","filter_value":"$l"""")
      (v, label,
        s"""{"vector":${vecJson(v)},"k":$K,"nprobe":$NProbe,""" +
          s""""vector_column":"vec","id_column":"id"$filter}""")
    }

  /** Closed loop: `clients` threads, each sending its next request when
    * the previous one is answered, until the deadline (or `limit`
    * requests per client). Request `i` of client `c` has kind
    * `kindOf(c, i)`.
    */
  private def drive(ctx: Ctx, out: Outcome, url: String, mix: Gen.Mixture,
      seed: Long, clients: Int, deadlineNs: Long, limit: Int,
      span: Option[String], kindOf: (Int, Int) => String): Seq[Req] = {
    val sent = Array.fill(clients)(ArrayBuffer.empty[Req])
    val workers = (0 until clients).map { c =>
      new Worker(s"perfbench-client-$c")({
        val client = newClient()
        val r = new SplittableRandom(Gen.subSeed(seed, "client", c))
        var i = 0
        while (i < limit && (i == 0 || System.nanoTime() < deadlineNs)) {
          val qid = c * 1000000L + i
          val kind = kindOf(c, i)
          val (vec, label, body) = request(kind, mix, r,
            Gen.subSeed(seed, s"q$c", i))
          val t = System.nanoTime()
          val (code, resp) = span.fold(post(client, url, body))(s =>
            ctx.span(s)(post(client, url, body)))
          sent(c) += Req(qid, kind, vec, label, code, resp,
            (System.nanoTime() - t) / 1e6)
          i += 1
        }
      })
    }
    workers.flatMap(_.join()).foreach(e =>
      out.check(Some(s"HTTP client died: $e")))
    sent.toSeq.flatten
  }

  private def indexDirs(): Set[String] = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-ivf-${ProcessHandle.current().pid()}")
    Option(base.listFiles()).map(_.filter(_.isDirectory)
      .map(_.getAbsolutePath).toSet).getOrElse(Set.empty)
  }

  /** Register a fresh collection and index it through the API; returns
    * the seconds the index request took and the index directory it made.
    */
  private def collection(ctx: Ctx, api: String, name: String,
      mix: Gen.Mixture, seed: Long, n: Int, out: Outcome, span: String)
      : (Array[Array[Float]], Array[Int], Double, String) = {
    val vecs = Gen.sample(mix, seed, n)
    val r = new SplittableRandom(Gen.subSeed(seed, "labels"))
    val labels = Array.fill(n)(r.nextInt(Labels))
    val src = ctx.path(s"collection_$name")
    Workload.writeVectors(ctx.spark, src, Array.tabulate(n)(_.toLong), vecs,
      ctx.threads, Some(labels))
    ctx.spark.read.parquet(src).createOrReplaceTempView(name)
    val before = indexDirs()
    val client = newClient()
    val body = s"""{"n_cells":$Cells,"vector_column":"vec","id_column":"id"}"""
    val url = s"$api/collections/$name/index"
    val ((code, resp), s) = Workload.time(
      ctx.span(span)(post(client, url, body)))
    if (code != 201) out.fail(s"POST $url: HTTP $code: ${resp.take(200)}")
    val made = indexDirs() -- before
    if (made.size != 1)
      out.fail(s"POST $url made ${made.size} new index directories")
    (vecs, labels, s, made.headOption.getOrElse(""))
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val server = new HttpApi(ctx.spark).start()
    try serve(ctx, out, s"http://127.0.0.1:${server.boundPort}")
    finally server.stop()
  }

  private def serve(ctx: Ctx, out: Outcome, api: String): Unit = {
    val mix = Gen.mixture(Gen.subSeed(ctx.seed, "mixture"), Dim, Clusters,
      Sigma)
    // set-up: a small untimed collection takes the first-call costs, then
    // each timed repetition indexes a fresh collection into a new path
    collection(ctx, api, "warm", mix, Gen.subSeed(ctx.seed, "warm"),
      WarmRows, out, "warm")
    var vecs: Array[Array[Float]] = null
    var labels: Array[Int] = null
    val dirs = (0 until SetupReps).map { r =>
      val (v, l, s, dir) = collection(ctx, api, s"vecs_$r", mix,
        Gen.subSeed(ctx.seed, "corpus", r), N, out, "ivf.build")
      vecs = v; labels = l
      out.setupS += s
      dir
    }
    out.notes("index_paths") = dirs
    if (dirs.distinct.size != dirs.size)
      out.fail("set-up index builds reused an index path")
    out.phase("set_up", ctx)

    val url = s"$api/collections/vecs_${SetupReps - 1}/search"
    // untimed requests compile the search path of every request kind,
    // each kind at least twice; set-up already ran the index path
    drive(ctx, out, url, mix, Gen.subSeed(ctx.seed, "warm_queries"),
      ctx.threads, Long.MaxValue, WarmRequests, None,
      (c, i) => Kinds((c + i) % Kinds.size))
    out.phase("warm_up", ctx)
    val reqs = drive(ctx, out, url, mix, Gen.subSeed(ctx.seed, "queries"),
      ctx.threads, ctx.deadlineNs, Int.MaxValue, None,
      mixKind(ctx.threads))
    out.phase("measure", ctx)

    val single =
      if (!ctx.tracer.enabled) Nil
      else drive(ctx, out, url, mix, Gen.subSeed(ctx.seed, "single"), 1,
        Long.MaxValue, TracedRequests, Some("http.request"), mixKind(1))

    // checks: every response a 200 with k neighbours in order, each
    // distance recomputed, recall against brute force
    val ids = Array.tabulate(N)(_.toLong)
    val all = (reqs ++ single).toIndexedSeq
    val truth = Truth.knn(ids, vecs, all.map(_.vec), K, ctx.threads,
      (qi, i) => all(qi).label.forall(_ == labels(i)))
    var hits = 0L
    all.indices.foreach { qi =>
      val q = all(qi)
      Checks.httpResults(q.code, q.resp, q.qid) match {
        case Left(err) => out.check(Some(err))
        case Right(rows) =>
          val (err, h) = Checks.answer(rows, q.vec, truth(qi),
            id => if (id >= 0 && id < N) Some(vecs(id.toInt)) else None)
          out.check(err.orElse(q.label.flatMap(l => rows.find(r =>
            labels(r.nid.toInt) != l).map(r =>
              s"request ${q.qid}: neighbour ${r.nid} fails the filter"))))
          hits += h
      }
    }
    out.phase("check", ctx)

    val lat = reqs.map(_.ms)
    // closed loop: each client completes one request per latency, so the
    // rate is the sum over clients of requests per second of busy time
    // (not cut short by where the deadline falls in a request)
    val rps = reqs.groupBy(_.qid / 1000000L).values
      .map(rs => rs.size / (rs.map(_.ms).sum / 1000)).sum
    out.e2e("throughput_per_s") = rps
    out.e2e("latency_p50_ms") = Stats.median(lat)
    out.e2e("recall_at_10") = hits.toDouble / (all.size * K)
    out.e2e("index_bytes_per_input_byte") =
      Host.dirStats(dirs.last)._1.toDouble / (N.toLong * (8 + 4 * Dim + 4))
    out.detail("http_rps") = (rps, "1/s")
    out.detail("http_p50_ms") = (Stats.median(lat), "ms")
    Stats.tailPercentile(lat.size).foreach { p =>
      out.detail(f"http_p$p%.0f_ms") = (Stats.percentile(lat, p), "ms")
    }
    out.notes("requests") = reqs.size
    out.notes("requests_by_kind") = reqs.groupBy(_.kind).map {
      case (k, v) => k -> v.size }

    if (ctx.tracer.enabled) {
      ctx.tracer.drain()
      val sum = ctx.tracer.summaries().map(s => s.name -> s).toMap
      val h = sum("http.request")
      val service = Stats.median(single.map(_.ms))
      val jobMs = h.jobMsPerCall
      out.layers("http.service_ms") = service
      out.layers("http.job_ms") = jobMs
      out.layers("http.driver_ms") = service - jobMs
      out.layers("http.jobs_per_request") = h.jobsPerCall
      out.layers("http.queue_ms") = Stats.median(lat) - service
      val model = graft.operators.IvfIndex.load(ctx.spark, dirs.last, "id",
        "vec")
      val sizes = Workload.cellSizes(model)
      // filtered requests scan the same probed cells
      val evals = Workload.distanceEvals(model.centroids, sizes,
        single.map(_.vec), NProbe)
      Layers.search(out, h, None, N, NProbe, Cells, evals, Dim)
      // POST /index runs k-means with maxIter 5, plus the assignment pass
      Layers.build(out, sum("ivf.build"), N.toLong * Cells * 6,
        Host.dirStats(dirs.last)._2)
    }
  }
}
