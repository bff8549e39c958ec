package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.HashEmbeddingRuntime
import graft.operators.Knn
import graft.plans.SummaryRewrite
import graft.plans.SummaryRewrite.{CmsSpec, Entry, HdrSpec, HistSpec,
  ItemsSpec, KmvSpec, SampleQSpec, Sketch, SketchSpec, VecSpec}
import graft.util.{Json, MiniJson}

/** Minimal REST facade over the engine (SURVEY §2.12), built on the
  * JDK's HttpServer — no extra dependencies. Endpoints mirror the
  * reference's surface (`http_server/`):
  *
  *   GET    /collections               → registered table names
  *   POST   /collections               → create: {"name":"t"} with the
  *                                       reference's default schema
  *                                       (id BIGINT, vector ARRAY<FLOAT>,
  *                                       data STRING, metadata STRING —
  *                                       `collection.rs:190-198`), or
  *                                       {"name":"t","columns":{"c":"type"}}
  *   GET    /collections/{name}        → schema + row count
  *   PUT    /collections/{name}        → bulk insert (JSON lines body)
  *   DELETE /collections/{name}        → drop collection
  *   POST   /collections/{name}/search → kNN: {"vector":[...]} or
  *                                       + optional "filter_column"/
  *                                       "filter_value" equality
  *                                       predicate (never raw SQL) or
  *                                       {"text":"...","model":"hash/bow-64"},
  *                                       optional "k", "vector_column",
  *                                       "id_column", "metric"
  *   POST   /collections/{name}/search_text
  *                                     → BM25: {"query":"words ..."},
  *                                       optional "k", "text_column",
  *                                       "id_column"
  *   POST   /collections/{name}/search_hybrid
  *                                     → BM25 ⊕ cosine via RRF:
  *                                       {"query":"...","vector":[...]}
  *                                       (or "text"+"model"), optional
  *                                       "vector_collection" when the
  *                                       embeddings live in another
  *                                       collection
  *   POST   /collections/{name}/pq     → run the PQ pipeline (Q1-Q8):
  *                                       optional "vector_column",
  *                                       "id_column", "clusters",
  *                                       "splits"; registers
  *                                       {name}_codebook and {name}_pq
  *
  * Serving is driver-side and intended for control-plane/testing use —
  * the reference's 1 GB JSON bulk paths stay Spark jobs. Online HNSW
  * serving is outside Spark's model (north star); the index endpoint
  * builds this engine's own family instead:
  *   POST   /collections/{name}/index  → build a durable IVF inverted
  *                                       file over the collection
  *                                       (optional "n_cells",
  *                                       "vector_column", "id_column",
  *                                       "quantization": "f32"|"bq" —
  *                                       "bq" stores packed sign bits
  *                                       and serves /search via
  *                                       hamming shortlist + exact
  *                                       rescore, depth "shortlist");
  *                                       subsequent /search calls use
  *                                       it, probing "nprobe" cells
  *                                       (default: all ⇒ exact). The
  *                                       index snapshots the collection
  *                                       — rebuild after bulk inserts.
  *
  * Also:
  *   GET    / or /openapi.json         → machine-readable OpenAPI 3
  *                                       route listing (the reference's
  *                                       Swagger doc endpoint,
  *                                       `http_server/mod.rs:77-106`)
  *   POST/GET/POST/DELETE
  *          /collections/{name}/summary[/stats|/compact]
  *                                     → materialized-rollup lifecycle
  *                                       (register the SummaryRewrite
  *                                       MV, watch chunk debt, fold
  *                                       it, uninstall)
  *
  * Request bodies are strict JSON objects, read and parsed once per
  * request by [[graft.util.MiniJson]]; an empty body reads as `{}`.
  * Malformed JSON, a duplicate key, nesting deeper than
  * `MiniJson.MaxDepth` or a known key of the wrong type gets a 400 that
  * names the problem. A number may also be sent as a numeric string
  * (`"k":"5"`), a boolean as `"true"`/`"false"`. Bulk insert (`PUT`)
  * alone takes JSON lines.
  *
  * `auth`, when set, enables HTTP Basic authentication on every route
  * (the reference's optional user/pass gate, `http_server/mod.rs:
  * 62-75`): requests without the exact `Authorization: Basic` header
  * get 401 + `WWW-Authenticate`. Credential compare is constant-time.
  * `maxBodyBytes` bounds declared request bodies (413 past it) — the
  * reference's request-size limit (`mod.rs:153-157`).
  *
  * Concurrency: requests run on a fixed pool of one thread per core
  * (the reference serves on a multi-worker actix server,
  * `http_server/search.rs:87-126`). Searches overlap: every GET route
  * and the four search routes (`search`, `search_text`,
  * `search_sparse`, `search_hybrid`) share a read lock. Every other
  * route (index builds, compaction, deletes, inserts, summaries,
  * capture) takes the write lock, so it runs alone: it waits for the
  * searches in flight, and searches that arrive after it wait for it.
  * A search therefore sees an index either wholly before or wholly
  * after a write. [[stop]] shuts the pool down.
  */
class HttpApi(spark: SparkSession, port: Int = 0,
    auth: Option[(String, String)] = None,
    maxBodyBytes: Long = 32L * 1024 * 1024) {
  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  // the concurrency model of the class doc; the lock is fair, so a
  // waiting write is not starved by a steady stream of searches
  private val routeLock =
    new java.util.concurrent.locks.ReentrantReadWriteLock(true)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    Runtime.getRuntime.availableProcessors(), {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      (r: Runnable) => {
        val t = new Thread(r,
          s"graft-http-${server.getAddress.getPort}-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** Minimal OpenAPI 3 skeleton: one entry per route (summaries only —
    * parameter schemas live in the class scaladoc). Served at `/` and
    * `/openapi.json`.
    */
  private val openApiDoc: String = {
    val routes = Seq(
      "get /collections" -> "list collections",
      "post /collections" -> "create a collection",
      "get /collections/{name}" -> "schema + row count",
      "put /collections/{name}" -> "bulk insert (JSON lines)",
      "delete /collections/{name}" -> "drop collection",
      "post /collections/{name}/search" -> "kNN (vector|text, filter, mmr, radius)",
      "post /collections/{name}/search_text" -> "BM25",
      "post /collections/{name}/search_sparse" -> "learned-sparse impact scoring",
      "post /collections/{name}/search_hybrid" -> "BM25 + cosine RRF fusion",
      "post /collections/{name}/index" -> "build IVF index (f32|bq|f16)",
      "post /collections/{name}/reindex" -> "atomic rebuild (kind preserved)",
      "delete /collections/{name}/index" -> "drop index",
      "get /collections/{name}/index/stats" -> "per-cell rows/files",
      "post /collections/{name}/index/delete" -> "tombstone-delete ids from the served index (purged by the next compact)",
      "get /indexes" -> "list indexes",
      "post /collections/{name}/compact" -> "fold index file debt",
      "post /collections/{name}/sq8" -> "scalar int8 quantization",
      "post /collections/{name}/pq" -> "product quantization pipeline",
      "post /collections/{name}/dedup" -> "near-dup removal + survivor view",
      "post /collections/{name}/overlap" -> "winnow fingerprint overlap",
      "post /collections/{name}/containment" -> "excerpt containment pairs",
      "post /collections/{name}/topk" -> "frequent items (Misra-Gries + recount)",
      "post /collections/{name}/keywords" -> "per-doc tf-idf keywords",
      "post /lsh_tune" -> "LSH banding tuner",
      "post /collections/{name}/checks" -> "data-contract validation (not_null, unique, in_set, range, satisfies, ref_in)",
      "post /collections/{name}/profile" -> "one-pass column profile (nulls, distinct, min/max)",
      "post /collections/{name}/resample" -> "regular-grid time-series resample (LOCF or linear interpolation)",
      "post /collections/{name}/graph" -> "link-graph analytics over an edge table (pagerank, ppr, pagerank_weighted, hits, triangles, kcore, label_prop, modularity, khop, degree)",
      "post /collections/{name}/summary" -> "register materialized rollup (+ expr_measures name:sql, hll_keys, histograms, items, kmv_keys, vec_cols, hdr_cols, cms_keys)",
      "get /collections/{name}/summary/stats" -> "rollup chunk debt",
      "post /collections/{name}/summary/compact" -> "fold rollup chunks",
      "post /collections/{name}/summary/distinct" -> "HLL distinct estimate from the rollup",
      "post /collections/{name}/summary/quantile" -> "histogram quantiles from the rollup",
      "post /collections/{name}/summary/samplequantile" -> "bottom-k sample quantiles from the rollup (range-free, deterministic)",
      "post /collections/{name}/summary/hdrquantile" -> "HDR log2-bucket quantiles from the rollup (relative error <= 2^-p)",
      "post /collections/{name}/summary/freq" -> "count-min per-key frequency estimates from the rollup (one-sided)",
      "post /collections/{name}/summary/retract" -> "propagate a row-level base delete into the rollup as negated partials",
      "delete /collections/{name}/summary/chunk/{id}" -> "retention delete: drop one ingest batch's partials",
      "post /collections/{name}/summary/topitems" -> "Misra-Gries frequent items from the rollup",
      "post /collections/{name}/summary/overlap" -> "KMV distinct-overlap of dim groups from the rollup",
      "post /collections/{name}/summary/centroid" -> "per-group embedding centroids from the rollup",
      "post /collections/{name}/summary/advise" -> "recommend + cost a rollup registration from a SQL workload (analyzed, never executed) or from the captured workload ({\\\"captured\\\":true}); {\\\"apply\\\":true} registers it in the same call",
      "post /capture/start" -> "start capturing the session's aggregate queries for the advisor",
      "post /capture/stop" -> "stop the workload capture listener",
      "get /capture" -> "capture status: active flag + captured query count",
      "delete /capture" -> "clear the captured workload set",
      "delete /collections/{name}/summary" -> "uninstall rollup rewrite")
    val paths = routes.groupBy(_._1.split(" ")(1)).toSeq.sortBy(_._1)
      .map { case (p, ms) =>
        val ops = ms.map { case (mp, summary) =>
          s""""${mp.split(" ")(0)}":{"summary":"$summary"}"""
        }.mkString(",")
        s""""$p":{$ops}"""
      }.mkString(",")
    s"""{"openapi":"3.0.3","info":{"title":"graft","version":"0.1.0"},""" +
      s""""paths":{$paths}}"""
  }
  // survivor views created by /dedup, so a re-run on the same
  // collection releases the previous view's cached blocks
  private val dedupViews =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  // IVF models built by /index, consulted by /search; dropped with the
  // collection. A model snapshots the collection at build time.
  private val ivfModels = new java.util.concurrent.ConcurrentHashMap[
    String, graft.operators.IvfIndex.Model]()
  // materialized rollups registered by /summary: the MV is an index
  // artifact like any other and gets the same CRUD lifecycle. Each
  // collection maps to its base table path and the registry entry
  // that registration installed.
  private val summaries = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Entry)]()

  /** Parse `"col:lo:hi[:nbins]"` histogram descriptors (the compact
    * REST encoding of [[graft.plans.SummaryRewrite.HistSpec]]).
    */
  private def parseHistSpecs(items: Seq[String])
      : Either[String, Seq[HistSpec]] = {
    val parsed = items.map { s =>
      s.split(":") match {
        case Array(c, lo, hi) =>
          scala.util.Try(HistSpec(c, lo.toDouble, hi.toDouble)).toOption
        case Array(c, lo, hi, nb) =>
          scala.util.Try(HistSpec(c, lo.toDouble, hi.toDouble,
            nb.toInt)).toOption
        case _ => None
      }
    }
    if (parsed.contains(None))
      Left("histograms entries must be 'col:lo:hi[:nbins]'")
    else Right(parsed.flatten)
  }

  /** Parse `"col[:capacity]"` frequent-items descriptors (the REST
    * encoding of [[graft.plans.SummaryRewrite.ItemsSpec]]).
    */
  private def parseItemsSpecs(items: Seq[String])
      : Either[String, Seq[ItemsSpec]] = {
    val parsed = items.map { s =>
      s.split(":") match {
        case Array(c) =>
          Some(ItemsSpec(c))
        case Array(c, cap) =>
          scala.util.Try(ItemsSpec(c, cap.toInt)).toOption
            .filter(_.capacity > 0)
        case _ => None
      }
    }
    if (parsed.contains(None))
      Left("items entries must be 'col[:capacity]' with capacity > 0")
    else Right(parsed.flatten)
  }

  /** Parse the /checks compact specs into [[graft.operators
    * .DataQuality.Check]]s. `range:<col>:<lo>:<hi>` desugars to a
    * Satisfies with re-rendered NUMERIC bounds (the free-form SQL
    * path exists, but range bounds are parsed, not spliced).
    */
  private def parseChecks(specs: Seq[String])
      : Either[String, Seq[graft.operators.DataQuality.Check]] = {
    import graft.operators.DataQuality._
    val parsed: Seq[Either[String, Check]] = specs.map { s =>
      val parts = s.split(":", 2)
      (parts(0).trim, parts.lift(1)) match {
        case ("not_null", Some(c)) if c.trim.nonEmpty =>
          Right(NotNull(c.trim))
        case ("unique", Some(cs)) =>
          val columns = cs.split(",").map(_.trim).filter(_.nonEmpty)
          if (columns.isEmpty) Left(s"unique needs columns: '$s'")
          else Right(Unique(columns.toSeq))
        case ("in_set", Some(rest)) => rest.split(":", 2) match {
          case Array(c, vs) if c.trim.nonEmpty =>
            val values = vs.split("\\|").map(_.trim).filter(_.nonEmpty)
            if (values.isEmpty) Left(s"in_set needs values: '$s'")
            else Right(InSet(c.trim, values.toSeq))
          case _ => Left(s"in_set needs 'in_set:<col>:<v1|v2>': '$s'")
        }
        case ("range", Some(rest)) => rest.split(":", 3) match {
          case Array(c, lo, hi) if c.trim.nonEmpty =>
            (scala.util.Try(lo.trim.toDouble).toOption,
              scala.util.Try(hi.trim.toDouble).toOption) match {
              case (Some(l), Some(h)) if l <= h =>
                Right(Satisfies(s"range(${c.trim})",
                  s"`${c.trim}` >= $l AND `${c.trim}` <= $h"))
              case _ => Left(s"range bounds must be numbers with " +
                s"lo <= hi: '$s'")
            }
          case _ => Left(s"range needs 'range:<col>:<lo>:<hi>': '$s'")
        }
        case ("satisfies", Some(rest)) => rest.split(":", 2) match {
          case Array(label, pred) if label.trim.nonEmpty &&
              pred.trim.nonEmpty =>
            Right(Satisfies(label.trim, pred))
          case _ =>
            Left(s"satisfies needs 'satisfies:<label>:<expr>': '$s'")
        }
        case ("ref_in", Some(rest)) => rest.split(":", 3) match {
          case Array(c, coll, refCol) if c.trim.nonEmpty &&
              validIdent(coll.trim) && refCol.trim.nonEmpty =>
            if (!spark.catalog.tableExists(coll.trim))
              Left(s"no such collection '${coll.trim}'")
            else Right(RefIn(c.trim, spark.table(coll.trim),
              refCol.trim))
          case _ =>
            Left(s"ref_in needs 'ref_in:<col>:<collection>:<ref_col>'" +
              s": '$s'")
        }
        case (kind, _) => Left(s"unknown check kind '$kind'")
      }
    }
    parsed.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None =>
        val checks = parsed.collect { case Right(c) => c }
        if (checks.map(_.name).distinct.size != checks.size)
          Left("duplicate check names")
        else Right(checks)
    }
  }

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  // shared by /search and /search_hybrid: explicit "vector" wins,
  // else "text" embedded with the (default hash/bow-64) model
  private def resolveQueryVector(body: MiniJson.Fields)
      : Option[Array[Float]] =
    body.floats("vector")
      .orElse(body.str("text").map { t =>
        val model = body.str("model").getOrElse("hash/bow-64")
        HashEmbeddingRuntime.embedOne(t,
          graft.embed.ModelRegistry(model).dim)
      })

  // render an id cell for a JSON response: strings quoted + escaped,
  // numerics verbatim
  private def jsonId(v: Any): String = v match {
    case s: String => "\"" + graft.util.Json.escape(s) + "\""
    case other => String.valueOf(other)
  }

  private def tableOr404(ex: HttpExchange, name: String)
      : Option[DataFrame] =
    if (validIdent(name) && spark.catalog.tableExists(name))
      Some(spark.table(name))
    else { respond(ex, 404, error(s"no collection $name")); None }

  private def error(msg: String): String = s"""{"error":${Json.quote(msg)}}"""

  /** The prelude every `/summary/<read>` route shares: a 404 unless
    * `name` has a summary; then the body's `field`, `dims` and the
    * read's own `params`, in that order; then a 400 unless `field`
    * names one of the sketches `pick` selects from the registration
    * (the error lists them as `label`), or unless the dims are rollup
    * dims (a non-empty subset for a `pairwise` read). Some(entry, dims,
    * the picked name, params) when the read may go ahead.
    */
  private def summaryRead[P](ex: HttpExchange, name: String,
      body: MiniJson.Fields, field: String, label: String,
      pick: PartialFunction[Sketch, String], pairwise: Boolean = false)(
      params: => P): Option[(Entry, Seq[String], String, P)] =
    Option(summaries.get(name)) match {
      case None =>
        respond(ex, 404, error(s"no summary on $name")); None
      case Some((_, reg)) =>
        val picked = body.str(field)
        val gdims = body.strings("dims").getOrElse(Nil)
        val p = params
        val choices = reg.sketches.collect(pick)
        if (!picked.exists(choices.contains)) {
          respond(ex, 400,
            s"""{"error":"$field must be one of the registered """ +
              s"""$label: ${choices.mkString(",")}"}""")
          None
        } else if (pairwise && gdims.isEmpty ||
            !gdims.forall(reg.dims.contains)) {
          respond(ex, 400,
            if (pairwise) """{"error":"dims must be a non-empty """ +
              """subset of rollup dims"}"""
            else """{"error":"dims must be rollup dims"}""")
          None
        } else Some((reg, gdims, picked.get, p))
    }

  /** Answer a `/summary/<read>` with its rows: each one is its dims (the
    * `_a` then the `_b` group's for a `pairwise` read) followed by
    * `fields(row, i)`, i the row's first value column.
    */
  private def respondRows(ex: HttpExchange, gdims: Seq[String],
      rows: DataFrame, pairwise: Boolean = false)(
      fields: (Row, Int) => Seq[String]): Unit = {
    val groups = if (pairwise) Seq("_a", "_b") else Seq("")
    val items = rows.collect().map { r =>
      val ds = groups.zipWithIndex.flatMap { case (suffix, g) =>
        gdims.indices.map(i => s""""${gdims(i)}$suffix":${
          jsonId(r.get(g * gdims.size + i))}""")
      }
      (ds ++ fields(r, groups.size * gdims.size)).mkString("{", ",", "}")
    }.mkString("[", ",", "]")
    respond(ex, 200, s"""{"results":$items}""")
  }

  private def quantiles(body: MiniJson.Fields): Seq[Double] =
    body.floats("qs").map(_.toSeq.map(_.toDouble)).getOrElse(Seq(0.5))

  private def quantileField(q: Double, v: Any): String =
    s""""p${math.round(q * 100)}":${if (v == null) "null" else v.toString}"""

  // names and column types reach SQL text — admit identifiers and a
  // type whitelist only (the reference quotes table names instead;
  // same injection posture)
  private def validIdent(s: String): Boolean =
    s.matches("[A-Za-z_][A-Za-z0-9_]{0,63}")
  private val allowedTypes = Set("bigint", "int", "smallint", "float",
    "double", "string", "boolean", "timestamp", "date", "binary",
    "array<float>", "array<int>", "array<tinyint>", "array<string>")

  // the full expected header value, precomputed once; None = auth off
  private val expectedAuth: Option[Array[Byte]] = auth.map { case (u, p) =>
    ("Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$u:$p".getBytes(StandardCharsets.UTF_8)))
      .getBytes(StandardCharsets.UTF_8)
  }

  private def authorized(ex: HttpExchange): Boolean =
    expectedAuth.forall { expect =>
      Option(ex.getRequestHeaders.getFirst("Authorization")).exists(h =>
        // MessageDigest.isEqual is constant-time — a plain == would
        // leak the prefix length of a partially-correct credential
        java.security.MessageDigest.isEqual(
          h.getBytes(StandardCharsets.UTF_8), expect))
    }

  private def handle(ex: HttpExchange): Unit = try {
    if (!authorized(ex)) {
      ex.getResponseHeaders.add("WWW-Authenticate", "Basic realm=\"graft\"")
      respond(ex, 401, """{"error":"unauthorized"}""")
      return
    }
    // request-size gate (the reference's body-size limit,
    // http_server/mod.rs:153-157): declared oversized bodies are
    // refused before any handler reads them
    val tooBig = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .exists(_ > maxBodyBytes)
    if (tooBig) {
      respond(ex, 413,
        s"""{"error":"request body exceeds $maxBodyBytes bytes"}""")
      return
    }
    val method = ex.getRequestMethod
    val parts = ex.getRequestURI.getPath.stripSuffix("/").split("/")
      .filter(_.nonEmpty).toList
    // the body contract of the class doc, read and parsed once before
    // the route lock; bulk insert alone keeps its raw JSON lines
    val raw = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    val body =
      if (method == "PUT" || raw.isBlank) new MiniJson.Fields(Map.empty)
      else MiniJson.fields(raw)
    val lock = parts match {
      case _ if method == "GET" => routeLock.readLock()
      case List("collections", _, r) if method == "POST" &&
          searchRoutes(r) => routeLock.readLock()
      case _ => routeLock.writeLock()
    }
    lock.lock()
    try route(ex, method, parts, body, raw) finally lock.unlock()
  } catch {
    case e: MiniJson.BadJson => respond(ex, 400, error(e.getMessage))
    case e: Throwable =>
      respond(ex, 500,
        error(Option(e.getMessage).getOrElse(e.getClass.getName)))
  }

  private val searchRoutes =
    Set("search", "search_text", "search_sparse", "search_hybrid")

  private def route(ex: HttpExchange, method: String,
      parts: List[String], body: MiniJson.Fields, raw: String): Unit =
    (method, parts) match {
      // machine-readable API doc (the reference serves Swagger at its
      // root, http_server/mod.rs:77-106): a minimal OpenAPI 3 skeleton
      // enumerating every route, enough for client generation/discovery
      case ("GET", List()) | ("GET", List("openapi.json")) =>
        respond(ex, 200, openApiDoc)

      case ("GET", List("collections")) =>
        val names = spark.catalog.listTables().collect().map(_.name)
        respond(ex, 200,
          Json.strArray(names.toSeq))

      case ("POST", List("collections")) =>
        body.str("name") match {
          case Some(name) if validIdent(name) =>
            if (spark.catalog.tableExists(name))
              respond(ex, 409, s"""{"error":"collection $name exists"}""")
            else {
              val pairs = body.obj("columns") match {
                case None =>
                  // reference default schema, collection.rs:190-198
                  Seq("id" -> "bigint", "vector" -> "array<float>",
                    "data" -> "string", "metadata" -> "string")
                case Some(cols) => cols.map.keys.toSeq.map(c =>
                  c -> cols.str(c).getOrElse("").toLowerCase)
              }
              if (pairs.isEmpty ||
                  !pairs.forall { case (c, t) =>
                    validIdent(c) && allowedTypes(t) })
                respond(ex, 400, """{"error":"invalid columns"}""")
              else {
                val ddl = pairs.map { case (c, t) => s"$c $t" }
                  .mkString(", ")
                spark.sql(s"CREATE TABLE $name ($ddl) USING parquet")
                respond(ex, 201, s"""{"created":"$name"}""")
              }
            }
          case _ =>
            respond(ex, 400, """{"error":"need a valid \"name\""}""")
        }

      case ("DELETE", List("collections", name)) =>
        tableOr404(ex, name).foreach { _ =>
          spark.sql(s"DROP TABLE $name")
          ivfModels.remove(name)
          respond(ex, 200, s"""{"dropped":"$name"}""")
        }

      // Build a durable IVF inverted file over the collection; /search
      // then probes it. Body: {"n_cells":16,"vector_column":"embedding",
      // "id_column":"vec_id"}. The index snapshots the collection at
      // build time — rebuild after bulk inserts.
      case ("POST", List("collections", name, "index")) =>
        tableOr404(ex, name).foreach { df =>
          val nCells = body.int("n_cells").getOrElse(16)
          val vecCol = body.str("vector_column").getOrElse("embedding")
          val idCol = body.str("id_column").getOrElse("vec_id")
          // the reference's index server takes the scalar-quantization
          // kind as a build parameter (external_index/server.rs:93-99);
          // "bq" stores packed sign bits next to the floats and routes
          // searches through the hamming-shortlist + exact-rescore path
          val quant = body.str("quantization").getOrElse("f32")
          if (nCells < 1 || nCells > 65536)
            respond(ex, 400,
              """{"error":"n_cells must be in [1, 65536]"}""")
          else if (!df.columns.contains(vecCol) ||
              !df.columns.contains(idCol))
            respond(ex, 400, """{"error":"unknown column"}""")
          else if (quant != "f32" && quant != "bq" && quant != "f16")
            respond(ex, 400,
              """{"error":"quantization must be \"f32\", \"f16\" or \"bq\""}""")
          else
            try {
              val model = graft.operators.IvfIndex.build(df, idCol, vecCol,
                nCells, maxIter = 5,
                kind = graft.operators.IvfIndex.StorageKind.byName(quant))
              ivfModels.put(name, model)
              respond(ex, 201,
                s"""{"index":"ivf","collection":"$name",""" +
                  s""""n_cells":$nCells,"quantization":"$quant"}""")
            } catch {
              case e: IllegalArgumentException =>
                respond(ex, 400,
                  s"""{"error":"${graft.util.Json.escape(e.getMessage)}"}""")
            }
        }

      // Index lifecycle (the reference's _reindex_external_index and
      // index DELETE analogs — external_index.rs:109-162,
      // http_server/index.rs:139-174): rebuild the collection's index
      // from its CURRENT rows at the same cell count, list every live
      // index, drop one (searches fall back to brute force).
      case ("POST", List("collections", name, "reindex")) =>
        tableOr404(ex, name).foreach { df =>
          Option(ivfModels.get(name)) match {
            case None =>
              respond(ex, 404,
                error(s"no index on $name — POST /collections/$name/index first"))
            case Some(m) =>
              // a quantized index must rebuild AS its kind, or the
              // declared quantization silently degrades to floats
              val rebuilt = graft.operators.IvfIndex.build(df, m.idCol,
                m.vecCol, m.centroids.length, maxIter = 5, force = true,
                kind = m.kind)
              ivfModels.put(name, rebuilt)
              respond(ex, 200,
                s"""{"reindexed":"$name","n_cells":${rebuilt.centroids.length},""" +
                  s""""quantization":"${m.kind}"}""")
          }
        }

      case ("DELETE", List("collections", name, "index")) =>
        Option(ivfModels.remove(name)) match {
          case Some(_) => respond(ex, 200, s"""{"dropped_index":"$name"}""")
          case None =>
            respond(ex, 404, error(s"no index on $name"))
        }

      // Index observability: per-cell rows / corpus share / file
      // count — what decides between /compact (files) and /reindex
      // (row skew).
      case ("GET", List("collections", name, "index", "stats")) =>
        Option(ivfModels.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no index on $name"))
          case Some(m) =>
            val rows = graft.operators.IvfIndex.cellStats(spark, m)
              .collect()
            val items = rows.map(r =>
              s"""{"cell_id":${r.get(0)},"n_rows":${r.get(1)},
                 |"pct":${r.get(2)},"n_files":${r.get(3)}}""".stripMargin
                .replace("\n", ""))
            respond(ex, 200, s"""{"cells":[${items.mkString(",")}]}""")
        }

      // Tombstone-delete vectors from the collection's SERVED index
      // (the right-to-be-forgotten pass): {"ids":[1,2,3]} — O(|ids|)
      // sidecar write, no cell rewrite; the served model reloads with
      // the tombstones applied, and the next /compact purges them
      // physically. A tombstoned id stays invisible even if
      // re-appended until that compact (see IvfIndex.delete).
      case ("POST", List("collections", name, "index", "delete")) =>
        Option(ivfModels.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no index on $name"))
          case Some(m) =>
            val ids = body.strings("ids").getOrElse(Nil)
              .flatMap(s => scala.util.Try(s.toLong).toOption)
            if (ids.isEmpty)
              respond(ex, 400,
                """{"error":"ids array of integral ids is required"}""")
            else {
              val idsDf = spark.createDataset(ids)(
                org.apache.spark.sql.Encoders.scalaLong).toDF(m.idCol)
              val n = graft.operators.IvfIndex.delete(spark,
                m.indexPath, idsDf)
              ivfModels.put(name, graft.operators.IvfIndex.load(
                spark, m.indexPath, m.idCol, m.vecCol))
              respond(ex, 200,
                s"""{"collection":"$name","deleted":$n}""")
            }
        }

      case ("GET", List("indexes")) =>
        import scala.jdk.CollectionConverters._
        val items = ivfModels.asScala.toSeq.sortBy(_._1).map {
          case (n, m) =>
            s"""{"collection":"$n","n_cells":${m.centroids.length},""" +
              s""""id_column":"${m.idCol}","vector_column":"${m.vecCol}",""" +
              s""""quantization":"${m.kind}"}"""
        }.mkString("[", ",", "]")
        respond(ex, 200, items)

      // Scalar int8 quantization (SQ8): fit the per-dimension model and
      // register {name}_sqmodel / {name}_sq8 views — the codebook-free
      // sibling of /pq for 4x storage compression at near-exact recall.
      // Body: {"vector_column":"embedding","id_column":"vec_id"}.
      case ("POST", List("collections", name, "sq8")) =>
        tableOr404(ex, name).foreach { df =>
          val vecCol = body.str("vector_column").getOrElse("embedding")
          val idCol = body.str("id_column").getOrElse("vec_id")
          if (!df.columns.contains(vecCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              error(s"need columns $idCol and $vecCol"))
          else {
            val SQ = graft.operators.ScalarQuantizer
            val model = SQ.fit(df, vecCol)
            val coded = SQ.quantize(df, vecCol, s"${vecCol}_sq8", model)
              .drop(vecCol)
            model.createOrReplaceTempView(s"${name}_sqmodel")
            coded.createOrReplaceTempView(s"${name}_sq8")
            respond(ex, 200,
              s"""{"model":"${name}_sqmodel","dims":${model.count()},
                 |"quantized":"${name}_sq8"}""".stripMargin
                .replace("\n", ""))
          }
        }

      case ("POST", List("collections", name, "pq")) =>
        tableOr404(ex, name).foreach { df =>
          val vecCol = body.str("vector_column").getOrElse("embedding")
          val idCol = body.str("id_column").getOrElse("vec_id")
          val clusters = body.int("clusters").getOrElse(16)
          val splits = body.int("splits").getOrElse(8)
          if (!df.columns.contains(vecCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              error(s"need columns $idCol and $vecCol"))
          else if (clusters < 1 || clusters > 256 || splits < 1)
            respond(ex, 400, """{"error":"clusters must be a number in """ +
              """[1, 256], splits >= 1"}""")
          else {
            val cb = graft.operators.ProductQuantizer.fitCodebook(
              df, idCol, vecCol, clusters, splits)
            val quantized = graft.operators.ProductQuantizer
              .quantizeColumn(df, vecCol, s"${vecCol}_pq", cb)
            cb.createOrReplaceTempView(s"${name}_codebook")
            quantized.createOrReplaceTempView(s"${name}_pq")
            respond(ex, 200,
              s"""{"codebook":"${name}_codebook","rows":${cb.count()},
                 |"quantized":"${name}_pq"}""".stripMargin
                .replace("\n", ""))
          }
        }

      // Near-dup removal over a text column: MinHash pair discovery +
      // keep-min survivors, registered as "<name>_dedup" — the REST
      // face of the dedup job kind. Body: {"text_column":"text",
      // "id_column":"doc_id","tau":0.5}.
      case ("POST", List("collections", name, "dedup")) =>
        tableOr404(ex, name).foreach { df =>
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val tau = body.double("tau").getOrElse(0.5)
          if (!df.columns.contains(textCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              error(s"need columns $idCol and $textCol"))
          else if (!(tau > 0 && tau <= 1))
            respond(ex, 400,
              """{"error":"tau must be a number in (0, 1]"}""")
          else {
            // own the caching explicitly (shared = false): the global
            // shingle memo would pin one relation per distinct
            // collection in this long-lived server. The survivor view
            // is persisted + materialized so later SELECTs read the
            // cache instead of re-running the LSH join (lineage stays
            // intact — eviction degrades to recompute, not failure);
            // re-running dedup on the same name releases the previous
            // view's cache first.
            val D = graft.operators.Dedup
            val sets = D.signatureSets(df, idCol, textCol,
              shared = false).persist()
            try {
              val dupIds = D.dupPairsFromSets(sets, sets, "i", "j",
                numHashes = 128, bands = 64, tau = tau, selfJoin = true,
                maxBandDocFreq = Some(D.DefaultMaxBandDocFreq))
                .select(col("j").as(idCol)).distinct()
              val survivors = df.join(dupIds, Seq(idCol), "left_anti")
                .persist()
              val rows = survivors.count() // materialize while sets cached
              Option(dedupViews.put(name, survivors))
                .foreach(_.unpersist())
              survivors.createOrReplaceTempView(s"${name}_dedup")
              respond(ex, 200,
                s"""{"survivors":"${name}_dedup","dropped":${df.count() - rows},
                   |"rows":$rows}""".stripMargin.replace("\n", ""))
            } finally sets.unpersist()
          }
        }

      // Cross-document overlap report (MOSS match step over winnowing
      // fingerprints): top pairs by shared fingerprint count. Body:
      // {"text_column":"text","id_column":"doc_id","min_shared":5,
      // "max_doc_freq":50,"limit":20}. Read-only: results are computed
      // and returned, nothing is registered; operator caches are
      // released before responding (serial executor, so no other
      // request is mid-flight).
      case ("POST", List("collections", name, "overlap")) =>
        tableOr404(ex, name).foreach { df =>
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val minShared = body.int("min_shared").getOrElse(5)
          val maxDf = body.int("max_doc_freq").getOrElse(50)
          val limit = body.int("limit").getOrElse(20)
          if (!df.columns.contains(textCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              error(s"need columns $idCol and $textCol"))
          else if (minShared < 1 || maxDf < 1 || limit < 1)
            respond(ex, 400,
              """{"error":"min_shared, max_doc_freq and limit must be positive integers"}""")
          else {
            val rows =
              try graft.operators.Dedup.winnowOverlapPairs(df, idCol,
                  textCol, minShared = minShared, maxDocFreq = maxDf)
                .orderBy(col("shared").desc, col("i"), col("j"))
                .limit(limit).collect()
              finally graft.operators.Dedup.releaseCaches()
            val items = rows.map(r =>
              s"""{"i":${r.get(0)},"j":${r.get(1)},"shared":${r.get(2)},
                 |"overlap":${r.get(3)}}""".stripMargin.replace("\n", ""))
            respond(ex, 200, s"""{"pairs":[${items.mkString(",")}]}""")
          }
        }

      // Directed containment pairs (the excerpt/quotation relation
      // Jaccard misses when lengths differ). Body: {"text_column":
      // "text","id_column":"doc_id","tau":0.8,"limit":100}. Read-only.
      case ("POST", List("collections", name, "containment")) =>
        tableOr404(ex, name).foreach { df =>
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val tau = body.double("tau").getOrElse(0.8)
          val limit = body.int("limit").getOrElse(100)
          if (!df.columns.contains(textCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              error(s"need columns $idCol and $textCol"))
          else if (!(tau > 0 && tau <= 1))
            respond(ex, 400,
              """{"error":"tau must be a number in (0, 1]"}""")
          else if (limit < 1)
            respond(ex, 400,
              """{"error":"limit must be a positive integer"}""")
          else {
            val rows =
              try graft.operators.Dedup.containmentPairs(df, idCol,
                  textCol, tau = tau)
                .orderBy(col("cont").desc, col("i"), col("j"))
                .limit(limit).collect()
              finally graft.operators.Dedup.releaseCaches()
            val items = rows.map(r =>
              s"""{"i":${r.get(0)},"j":${r.get(1)},"cont":${r.get(2)}}""")
            respond(ex, 200, s"""{"pairs":[${items.mkString(",")}]}""")
          }
        }

      // Data-contract validation (DataQuality.validate) over a
      // collection. Body: {"checks":[...]} with compact string specs
      // (the ItemsSpec idiom): "not_null:<col>", "unique:<c1,c2>",
      // "in_set:<col>:<v1|v2>", "range:<col>:<lo>:<hi>" (numeric,
      // inclusive), "satisfies:<label>:<boolean SQL expr>",
      // "ref_in:<col>:<collection>:<ref_col>". Read-only: all
      // row-local checks share one scan; nothing is registered.
      case ("POST", List("collections", name, "checks")) =>
        tableOr404(ex, name).foreach { df =>
          val specs = body.strings("checks").getOrElse(Nil)
          if (specs.isEmpty)
            respond(ex, 400,
              """{"error":"need a non-empty checks array"}""")
          else parseChecks(specs) match {
            case Left(err) =>
              respond(ex, 400,
                s"""{"error":"${graft.util.Json.escape(err)}"}""")
            case Right(checks) =>
              // missing columns / bad predicates surface at analysis
              // time — map them to 400, the client named them
              scala.util.Try(
                graft.operators.DataQuality.validate(df, checks)
                  .orderBy(col("check_name")).collect()) match {
                case scala.util.Failure(e) =>
                  respond(ex, 400, s"""{"error":"${graft.util.Json
                    .escape(String.valueOf(e.getMessage).take(300))}"}""")
                case scala.util.Success(rows) =>
                  val items = rows.map(r =>
                    s"""{"check":"${graft.util.Json.escape(r.getString(0))}",""" +
                      s""""total":${r.getLong(1)},""" +
                      s""""violations":${r.getLong(2)},""" +
                      s""""pass":${r.getBoolean(3)}}""")
                  val failed = rows.count(!_.getBoolean(3))
                  respond(ex, 200,
                    s"""{"passed":${rows.length - failed},""" +
                      s""""failed":$failed,""" +
                      s""""checks":[${items.mkString(",")}]}""")
              }
          }
        }

      // One-pass column profile. Body: {"columns":["a","b"],
      // "approx_distinct":true} — columns default to the whole schema
      // (capped at 64), approx swaps exact COUNT(DISTINCT) for HLL
      // (the 100 TB stance). Read-only.
      case ("POST", List("collections", name, "profile")) =>
        tableOr404(ex, name).foreach { df =>
          // duplicates would make profile's internal _nn_/_nd_ aliases
          // ambiguous (AnalysisException → 500); dedupe, order kept
          val cols = body.strings("columns")
            .getOrElse(df.columns.toSeq).distinct
          val approx = body.bool("approx_distinct").contains(true)
          val missing = cols.filterNot(df.columns.contains)
          if (cols.isEmpty || cols.size > 64)
            respond(ex, 400,
              """{"error":"columns must name 1..64 columns"}""")
          else if (missing.nonEmpty)
            respond(ex, 400, s"""{"error":"no such columns: ${graft
              .util.Json.escape(missing.mkString(", "))}"}""")
          else {
            val rows = graft.operators.DataQuality
              .profile(df, cols, approxDistinct = approx)
              .orderBy(col("col_name")).collect()
            val items = rows.map { r =>
              def str(i: Int): String =
                if (r.isNullAt(i)) "null"
                else "\"" + graft.util.Json.escape(r.getString(i)) + "\""
              s"""{"column":"${graft.util.Json.escape(r.getString(0))}",""" +
                s""""n_rows":${r.getLong(1)},"n_nulls":${r.getLong(2)},""" +
                s""""n_distinct":${r.getLong(3)},""" +
                s""""min":${str(4)},"max":${str(5)}}"""
            }
            respond(ex, 200,
              s"""{"profile":[${items.mkString(",")}]}""")
          }
        }

      // Regular-grid time-series resample (TimeSeries.resample).
      // Body: {"key_column":"user_id","ts_column":"ts","value_column":
      // "value","step_sec":3600,"interpolate":false,"limit":1000}.
      // The value column is cast to long (pre-quantize floats to
      // integer units upstream or accept truncation). Read-only.
      case ("POST", List("collections", name, "resample")) =>
        tableOr404(ex, name).foreach { df =>
          val keyCol = body.str("key_column").getOrElse("")
          val tsCol = body.str("ts_column").getOrElse("ts")
          val valCol = body.str("value_column").getOrElse("value")
          val step = body.long("step_sec").getOrElse(3600L)
          val interp = body.bool("interpolate").contains(true)
          val limit = body.int("limit").getOrElse(1000)
          val need = Seq(keyCol, tsCol, valCol)
          if (need.exists(c => c.isEmpty || !df.columns.contains(c)))
            respond(ex, 400, """{"error":"key_column, ts_column and """ +
              """value_column must name existing columns"}""")
          else if (step < 1)
            respond(ex, 400,
              """{"error":"step_sec must be a positive integer"}""")
          else if (limit < 1 || limit > 100000)
            respond(ex, 400,
              """{"error":"limit must be in [1, 100000]"}""")
          else {
            // a null source key/ts casts to a null key/bucket, which
            // getLong below would NPE into the catch-all 500 — drop
            // such rows (the value field is already null-guarded)
            val rows = graft.operators.TimeSeries
              .resample(df, keyCol, tsCol, valCol, step, interp)
              .where(col("key").isNotNull && col("bucket").isNotNull)
              .orderBy(col("key"), col("bucket")).limit(limit).collect()
            val items = rows.map(r =>
              s"""{"key":${r.getLong(0)},"bucket":${r.getLong(1)},""" +
                s""""value":${if (r.isNullAt(2)) "null"
                  else r.getLong(2).toString},""" +
                s""""observed":${r.getBoolean(3)}}""")
            respond(ex, 200,
              s"""{"rows":[${items.mkString(",")}]}""")
          }
        }

      // Link-graph analytics over an edge collection (GraphOps).
      // Body: {"op":"pagerank|ppr|pagerank_weighted|hits|triangles|
      // kcore|label_prop|degree","src_column":"src","dst_column":
      // "dst","iters":3,"top":20,"seeds":[1,2],"weight_column":"w",
      // "k":2} — seeds required for ppr, weight_column for
      // pagerank_weighted; kcore reads k (threshold) and iters
      // (peel rounds). Read-only; returns the top rows of the op's
      // natural ordering.
      case ("POST", List("collections", name, "graph")) =>
        tableOr404(ex, name).foreach { df =>
          val op = body.str("op").getOrElse("")
          val srcCol = body.str("src_column").getOrElse("src")
          val dstCol = body.str("dst_column").getOrElse("dst")
          val iters = body.int("iters").getOrElse(3)
          val top = body.int("top").getOrElse(20)
          val seeds = body.strings("seeds").getOrElse(Nil)
            .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
          val G = graft.operators.GraphOps
          if (!df.columns.contains(srcCol) || !df.columns.contains(dstCol))
            respond(ex, 400,
              error(s"need columns $srcCol and $dstCol"))
          else if (iters < 1 || iters > 50)
            respond(ex, 400, """{"error":"iters must be in [1, 50]"}""")
          else if (top < 1 || top > 10000)
            respond(ex, 400, """{"error":"top must be in [1, 10000]"}""")
          else if (op == "ppr" && seeds.isEmpty)
            respond(ex, 400,
              """{"error":"ppr needs a non-empty seeds array"}""")
          else {
          // null src/dst values cast to null node ids, which getLong
          // in the serializers below would NPE into the catch-all 500
          // — drop such edges up front
          val df2 = df.where(col(srcCol).isNotNull && col(dstCol).isNotNull)
          op match {
            case "pagerank" | "ppr" =>
              val ranks =
                if (op == "pagerank") G.pageRank(df2, srcCol, dstCol, iters)
                else {
                  import spark.implicits._
                  G.personalizedPageRank(df2, srcCol, dstCol,
                    seeds.toDF("node"), iters)
                }
              val rows = ranks.orderBy(col("rank").desc, col("node"))
                .limit(top).collect()
              respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                s"""{"node":${r.getLong(0)},"rank":${r.getLong(1)}}""")
                .mkString(",")}]}""")
            case "hits" =>
              val rows = G.hits(df2, srcCol, dstCol, iters)
                .orderBy(col("auth").desc, col("hub").desc, col("node"))
                .limit(top).collect()
              respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                s"""{"node":${r.getLong(0)},"hub":${r.getLong(1)},""" +
                  s""""auth":${r.getLong(2)}}""").mkString(",")}]}""")
            case "triangles" =>
              val rows = G.triangles(df2, srcCol, dstCol)
                .orderBy(col("tri").desc, col("node"))
                .limit(top).collect()
              respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                s"""{"node":${r.getLong(0)},"tri":${r.getLong(1)},""" +
                  s""""deg":${r.getLong(2)},"lcc_ppm":${r.getLong(3)}}""")
                .mkString(",")}]}""")
            case "degree" =>
              val rows = G.degreeStats(df2, srcCol, dstCol)
                .orderBy((col("outdeg") + col("indeg")).desc, col("node"))
                .limit(top).collect()
              respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                s"""{"node":${r.getLong(0)},"outdeg":${r.getLong(1)},""" +
                  s""""indeg":${r.getLong(2)}}""").mkString(",")}]}""")
            case "pagerank_weighted" =>
              val wCol = body.str("weight_column").getOrElse("")
              if (wCol.isEmpty || !df.columns.contains(wCol))
                respond(ex, 400, """{"error":"pagerank_weighted needs """ +
                  """an existing weight_column"}""")
              else {
                val rows = G.pageRankWeighted(df2, srcCol, dstCol, wCol,
                    iters)
                  .orderBy(col("rank").desc, col("node"))
                  .limit(top).collect()
                respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                  s"""{"node":${r.getLong(0)},"rank":${r.getLong(1)}}""")
                  .mkString(",")}]}""")
              }
            case "kcore" =>
              val k = body.int("k").getOrElse(2)
              if (k < 1)
                respond(ex, 400,
                  """{"error":"k must be a positive integer"}""")
              else {
                val rows = G.kCore(df2, srcCol, dstCol, k, iters)
                  .orderBy(col("deg").desc, col("node"))
                  .limit(top).collect()
                respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                  s"""{"node":${r.getLong(0)},"deg":${r.getLong(1)}}""")
                  .mkString(",")}]}""")
              }
            case "label_prop" =>
              val rows = G.labelPropagation(df2, srcCol, dstCol, iters)
                .groupBy(col("label")).agg(count(lit(1)).as("size"))
                .orderBy(col("size").desc, col("label"))
                .limit(top).collect()
              respond(ex, 200, s"""{"communities":[${rows.map(r =>
                s"""{"label":${r.getLong(0)},"size":${r.getLong(1)}}""")
                .mkString(",")}]}""")
            case "modularity" =>
              val labels = G.labelPropagation(df2, srcCol, dstCol, iters)
              val r = G.modularity(df2, srcCol, dstCol, labels)
                .collect()(0)
              respond(ex, 200,
                s"""{"m":${r.getLong(0)},"intra":${r.getLong(1)},""" +
                  s""""q_ppm":${r.getLong(2)}}""")
            case "khop" =>
              if (seeds.isEmpty)
                respond(ex, 400,
                  """{"error":"khop needs a non-empty seeds array"}""")
              else {
                import spark.implicits._
                val rows = G.khopReach(df2, srcCol, dstCol,
                    seeds.toDF("node"), iters)
                  .orderBy(col("hop"), col("node"))
                  .limit(top).collect()
                respond(ex, 200, s"""{"nodes":[${rows.map(r =>
                  s"""{"node":${r.getLong(0)},"hop":${r.getInt(1)}}""")
                  .mkString(",")}]}""")
              }
            case other =>
              respond(ex, 400, s"""{"error":"unknown op '${graft.util
                .Json.escape(other)}' — use pagerank, ppr, """ +
                """pagerank_weighted, hits, triangles, kcore, """ +
                """label_prop, modularity, khop or degree"}""")
          }
          }
        }

      // LSH banding tuner: S-curve FP/FN areas for every (bands, rows)
      // factorization of num_hashes at the target Jaccard threshold —
      // how /dedup's banding gets sized BEFORE a corpus pass. Pure
      // math on literals; no collection involved. Body: {"threshold":
      // 0.5,"num_hashes":128}.
      case ("POST", List("lsh_tune")) =>
        locally {
          val threshold = body.double("threshold").getOrElse(0.5)
          val numHashes = body.int("num_hashes").getOrElse(128)
          if (!(threshold > 0 && threshold < 1))
            respond(ex, 400,
              """{"error":"threshold must be a number in (0, 1)"}""")
          else if (numHashes < 1 || numHashes > 4096)
            respond(ex, 400,
              """{"error":"num_hashes must be an integer in [1, 4096]"}""")
          else {
            val rows = graft.operators.Dedup
              .lshTuneGrid(spark, threshold, numHashes).collect()
            val items = rows.map(r =>
              s"""{"rows":${r.get(0)},"bands":${r.get(1)},
                 |"s_mid":${r.get(2)},"fp":${r.get(3)},"fn":${r.get(4)},
                 |"cost":${r.get(5)}}""".stripMargin.replace("\n", ""))
            respond(ex, 200, s"""{"grid":[${items.mkString(",")}]}""")
          }
        }

      // Compact the collection's IVF index cell files (pays down
      // /index + append debt; results unchanged, file layout rewritten
      // behind a crash-safe swap). 404 without an index.
      case ("POST", List("collections", name, "compact")) =>
        tableOr404(ex, name).foreach { _ =>
          Option(ivfModels.get(name)) match {
            case None =>
              respond(ex, 404,
                error(s"no index on $name — POST /collections/$name/index first"))
            case Some(m) =>
              val stats = graft.operators.IvfIndex.compact(spark,
                m.indexPath)
              val reopened = graft.operators.IvfIndex.load(spark,
                m.indexPath, m.idCol, m.vecCol)
              ivfModels.put(name, reopened)
              respond(ex, 200,
                s"""{"compacted":"$name","cells":${stats.partitions},
                   |"files_before":${stats.filesBefore},
                   |"files_after":${stats.filesAfter}}""".stripMargin
                  .replace("\n", ""))
          }
        }

      // Exact top-k frequent items via the Misra–Gries sketch
      // (HeavyHitters.topK — bounded partial-agg shuffle + broadcast
      // semi-join recount). Body: {"column":"text","k":10,
      // "capacity":4096,"ngram":2}; with "ngram" set the column is
      // treated as text and word n-grams are counted, otherwise the
      // column's values are the items. Read-only.
      case ("POST", List("collections", name, "topk")) =>
        tableOr404(ex, name).foreach { df =>
          val column = body.str("column").getOrElse("text")
          val k = body.int("k").getOrElse(10)
          val capacity = body.int("capacity").getOrElse(4096)
          val ngram = body.int("ngram")
          if (!df.columns.contains(column))
            respond(ex, 400, error(s"no column $column"))
          else if (k < 1 || k > 10000)
            respond(ex, 400,
              """{"error":"k must be an integer in [1, 10000]"}""")
          // 65536 caps the driver-side candidate collect at ~a few MB;
          // the Scala API takes any capacity for callers who own their
          // driver heap
          else if (capacity < k || capacity > (1 << 16))
            respond(ex, 400,
              """{"error":"capacity must be an integer in [k, 65536]"}""")
          else if (ngram.exists(n => n < 1 || n > 8))
            respond(ex, 400,
              """{"error":"ngram must be an integer in [1, 8]"}""")
          else if (ngram.isDefined && df.schema(column).dataType !=
              org.apache.spark.sql.types.StringType)
            respond(ex, 400,
              s"""{"error":"ngram mode needs a string column, $column is ${
                df.schema(column).dataType.simpleString}"}""")
          else {
            val items = ngram match {
              case None => df.select(col(column).cast("string").as("item"))
              case Some(n) =>
                df.where(s"length(trim($column)) > 0")
                  .selectExpr(s"split(trim($column), ' ') AS ws")
                  .where(s"size(ws) >= $n")
                  .selectExpr(
                    s"explode(transform(sequence(1, size(ws) - ${n - 1}), " +
                      s"i -> array_join(slice(ws, i, $n), ' '))) AS item")
            }
            val top = graft.operators.HeavyHitters
              .topK(items, "item", k, capacity).collect()
            val out = top.map(r =>
              s"""{"item":"${graft.util.Json.escape(r.getString(0))}",""" +
                s""""count":${r.getLong(1)}}""")
            respond(ex, 200, s"""{"topk":[${out.mkString(",")}]}""")
          }
        }

      // Per-document tf-idf keywords (the tag/route/summarize face of
      // the text pipeline): top-k terms per doc via the dual-dialect
      // keywordsSql template, integer-quantized idf.
      case ("POST", List("collections", name, "keywords")) =>
        tableOr404(ex, name).foreach { df =>
          val column = body.str("column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val k = body.int("k").getOrElse(3)
          val limit = body.int("limit").getOrElse(1000)
          // validIdent matches the sibling SQL-interpolating endpoints
          // (search_text / search_hybrid): column names ride into a SQL
          // template, so schema membership alone is not a strong enough
          // guard to rely on
          if (!validIdent(column) || !validIdent(idCol) ||
              !df.columns.contains(column) || !df.columns.contains(idCol))
            respond(ex, 400, """{"error":"unknown column"}""")
          else if (k < 1 || k > 100)
            respond(ex, 400,
              """{"error":"k must be an integer in [1, 100]"}""")
          else if (limit < 1)
            respond(ex, 400,
              """{"error":"limit must be a positive integer"}""")
          else {
            val rows = spark.sql(graft.operators.PipelineOps.keywordsSql(
                graft.operators.TextAnalysis.SparkDialect, name,
                idCol, column, k))
              .orderBy(col("doc_id"), col("rnk")).limit(limit).collect()
            val out = rows.map(r =>
              s"""{"id":${jsonId(r.get(0))},"rank":${r.getInt(1)},""" +
                s""""term":"${graft.util.Json.escape(r.getString(2))}",""" +
                s""""score":${r.getLong(3)}}""")
            respond(ex, 200, s"""{"keywords":[${out.mkString(",")}]}""")
          }
        }

      case ("GET", List("collections", name)) =>
        tableOr404(ex, name).foreach { df =>
          val cols = df.schema.fields.map(f =>
            s"""{"name":"${f.name}","type":"${f.dataType.simpleString}"}""")
            .mkString("[", ",", "]")
          respond(ex, 200,
            s"""{"name":"$name","columns":$cols,"rows":${df.count()}}""")
        }

      case ("PUT", List("collections", name)) =>
        tableOr404(ex, name).foreach { df =>
          import spark.implicits._
          val ds = spark.createDataset(
            raw.linesIterator.filter(_.trim.nonEmpty).toSeq)
          val rows = spark.read.schema(df.schema).json(ds)
          rows.write.insertInto(name)
          respond(ex, 200, s"""{"inserted":${rows.count()}}""")
        }

      // Lexical BM25 search over a text column — the text half of
      // hybrid retrieval (TextSearch.bm25TopK).
      case ("POST", List("collections", name, "search_text")) =>
        tableOr404(ex, name).foreach { df =>
          val k = body.int("k").getOrElse(10)
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val q = body.str("query").getOrElse("")
          val words = q.split("\\s+").filter(_.nonEmpty).distinct.toSeq
          if (words.isEmpty || k < 1 ||
              !validIdent(textCol) || !validIdent(idCol) ||
              !df.columns.contains(textCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              """{"error":"need \"query\", positive \"k\" and valid id/text columns"}""")
          else {
            val res = graft.operators.TextSearch
              .bm25TopK(df, idCol, textCol, words, k)
              .orderBy(col("rnk")).collect()
            val items = res.map { r =>
              s"""{"id":${jsonId(r.get(0))},"rank":${r.getInt(1)},"bm25":${r.getDouble(2)}}"""
            }.mkString("[", ",", "]")
            respond(ex, 200, s"""{"results":$items}""")
          }
        }

      // Learned-sparse retrieval: impact-quantized hashed postings,
      // score = sum of impact x idf-impact over the query's term ids
      // (SparseSearch.topK). Same contract as search_text; scores are
      // exact integers.
      case ("POST", List("collections", name, "search_sparse")) =>
        tableOr404(ex, name).foreach { df =>
          val k = body.int("k").getOrElse(10)
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val q = body.str("query").getOrElse("")
          val words = q.split("\\s+").filter(_.nonEmpty).distinct.toSeq
          if (words.isEmpty || k < 1 ||
              !validIdent(textCol) || !validIdent(idCol) ||
              !df.columns.contains(textCol) || !df.columns.contains(idCol))
            respond(ex, 400,
              """{"error":"need \"query\", positive \"k\" and valid id/text columns"}""")
          else {
            val res = graft.operators.SparseSearch
              .topK(df, idCol, textCol, words, k).collect()
            val items = res.map { r =>
              s"""{"id":${jsonId(r.get(0))},"score":${r.getLong(1)}}"""
            }.mkString("[", ",", "]")
            respond(ex, 200, s"""{"results":$items}""")
          }
        }

      // Hybrid retrieval: BM25 + embedding-cosine fused by RRF. Body:
      // {"query":"words","vector":[...]} (or "text"+"model" to embed),
      // optional k, columns. Joins the collection's text to a vector
      // collection via {"vector_collection":"t2"} or uses this one.
      case ("POST", List("collections", name, "search_hybrid")) =>
        tableOr404(ex, name).foreach { df =>
          val k = body.int("k").getOrElse(10)
          val textCol = body.str("text_column").getOrElse("text")
          val idCol = body.str("id_column").getOrElse("doc_id")
          val vecCol = body.str("vector_column").getOrElse("embedding")
          val vecIdCol = body.str("vector_id_column").getOrElse(idCol)
          val vecDfOpt = body.str("vector_collection") match {
            case Some(vn) => tableOr404(ex, vn)
            case None => Some(df)
          }
          vecDfOpt.foreach { vdf =>
            val q = body.str("query").getOrElse("")
            val words = q.split("\\s+").filter(_.nonEmpty).distinct.toSeq
            val colsOk = validIdent(textCol) && validIdent(idCol) &&
              validIdent(vecCol) && validIdent(vecIdCol) &&
              df.columns.contains(textCol) && df.columns.contains(idCol) &&
              vdf.columns.contains(vecCol) && vdf.columns.contains(vecIdCol)
            (words.nonEmpty && colsOk && k >= 1,
                resolveQueryVector(body)) match {
              case (true, Some(v)) =>
                import spark.implicits._
                val qv = Seq(v).toDF("qv")
                val res = graft.operators.TextSearch.hybridRrf(
                    df, idCol, textCol, words, vdf, vecIdCol, vecCol, qv,
                    kEach = math.max(k, 50), kOut = k)
                  .collect()
                val items = res.map { r =>
                  val br = if (r.isNullAt(2)) "null" else r.getInt(2).toString
                  val cr = if (r.isNullAt(3)) "null" else r.getInt(3).toString
                  s"""{"id":${jsonId(r.get(0))},"rrf":${r.getDouble(1)},"bm25_rank":$br,"cos_rank":$cr}"""
                }.mkString("[", ",", "]")
                respond(ex, 200, s"""{"results":$items}""")
              case _ =>
                respond(ex, 400,
                  """{"error":"need \"query\", \"vector\" (or \"text\"), positive \"k\", and valid columns on both collections"}""")
            }
          }
        }

      case ("POST", List("collections", name, "search")) =>
        tableOr404(ex, name).foreach { df =>
          val k = body.int("k").getOrElse(10)
          val vecCol = body.str("vector_column").getOrElse("embedding")
          val idCol = body.str("id_column").getOrElse("vec_id")
          val metric = body.str("metric").getOrElse("l2sq")
          // a requested filter that names a bad/unknown column must 400,
          // not silently return unfiltered rows (mirrors /index's guard)
          val fcolRaw = body.str("filter_column")
          val fcolOk = fcolRaw
            .filter(c => validIdent(c) && df.columns.contains(c))
          val nprobeOpt = body.int("nprobe")
          // BQ-indexed collections rescore a hamming shortlist of this
          // depth (default max(4k, 40)); meaningless without a bits-
          // bearing index, so it 400s against a plain one
          val shortlistOpt = body.int("shortlist")
          val mmrLambdaOpt = body.double("mmr_lambda")
          // distance-threshold mode (the reference's `<-> q < r` scan):
          // "radius" replaces top-k with all-within-radius, capped by
          // "limit" so an over-wide radius can't stream the corpus
          // through one HTTP response
          val radiusOpt = body.double("radius")
          val rlimit = body.int("limit").getOrElse(1000)
          val vec: Option[Array[Float]] = resolveQueryVector(body)
          (vec match {
            case None =>
              Some("""{"error":"need \"vector\" or \"text\""}""")
            case _ if k < 1 =>
              Some("""{"error":"k must be a positive integer"}""")
            case _ if fcolRaw.isDefined && fcolOk.isEmpty =>
              Some("""{"error":"unknown filter_column"}""")
            case _ if nprobeOpt.exists(_ < 1) =>
              Some("""{"error":"nprobe must be a positive integer"}""")
            case _ if shortlistOpt.exists(_ < k) =>
              Some("""{"error":"shortlist must be an integer >= k"}""")
            case _ if shortlistOpt.isDefined &&
                !Option(ivfModels.get(name)).exists(m =>
                  m.kind == graft.operators.IvfIndex.StorageKind.Bq &&
                    m.idCol == idCol && m.vecCol == vecCol) =>
              // also rejects a column mismatch: silently falling to
              // brute force while discarding the parameter would hide
              // that the two-stage path never ran
              Some("""{"error":"shortlist requires a bq-quantized index over the requested id/vector columns (POST /index with \"quantization\":\"bq\")"}""")
            case _ if radiusOpt.exists(_ <= 0) =>
              Some("""{"error":"radius must be a positive number"}""")
            case _ if radiusOpt.isDefined && mmrLambdaOpt.isDefined =>
              Some("""{"error":"radius and mmr_lambda are exclusive"}""")
            case _ if rlimit < 1 =>
              Some("""{"error":"limit must be a positive integer"}""")
            case _ => None
          }) match {
            case Some(err) => respond(ex, 400, err)
            case None =>
              val v = vec.get
              val queries = spark.createDataFrame(
                java.util.List.of(org.apache.spark.sql.Row(0L, v)),
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField(idCol,
                    org.apache.spark.sql.types.LongType),
                  org.apache.spark.sql.types.StructField(vecCol,
                    org.apache.spark.sql.types.ArrayType(
                      org.apache.spark.sql.types.FloatType)))))
              // optional metadata equality filter (vector-db staple):
              // column name must be a valid identifier ON the
              // collection — never interpolated as SQL — and the value
              // rides as a typed literal Column
              val fval = body.str("filter_value")
              val pred = (fcolOk, fval) match {
                case (Some(c), Some(v)) => Some(col(c) === lit(v))
                case _ => None
              }
              // an IVF index built by /index serves the search when its
              // columns match; "nprobe" trades recall for probed cells
              // (default all cells == exact). Otherwise brute force.
              val nprobe = nprobeOpt
              // the collection's index, when its columns match this
              // request; searches without one fall back to brute force
              val index = Option(ivfModels.get(name))
                .filter(m => m.idCol == idCol && m.vecCol == vecCol)
              // the n nearest, by the index or brute force; a def, so
              // the 400 guards below fire before any plan construction
              // can throw on a mismatched collection. A bq index given a
              // shortlist rescores a hamming shortlist over its stored
              // bits (a metadata filter rides inside the shortlist scan
              // so it cannot starve the pool); otherwise every kind
              // scores its stored vectors directly
              def nearest(n: Int, shortlist: Int) = index match {
                case Some(m) =>
                  graft.operators.IvfIndex.search(m, queries, n,
                    nprobe.getOrElse(m.centroids.length), metric,
                    filter = pred, shortlist = shortlist)
                case None =>
                  Knn.topK(pred.foldLeft(df)(_.where(_)), queries,
                    idCol, vecCol, n, metric)
              }
              // optional MMR diversification: re-rank the top
              // max(4k, 20) candidates down to k with the given λ
              val mmrLambda = mmrLambdaOpt
              val idIntegral = df.schema(idCol).dataType match {
                case org.apache.spark.sql.types.LongType |
                     org.apache.spark.sql.types.IntegerType |
                     org.apache.spark.sql.types.ShortType => true
                case _ => false
              }
              if (mmrLambda.isDefined && !idIntegral)
                respond(ex, 400,
                  """{"error":"mmr_lambda requires an integral id column"}""")
              else if (radiusOpt.isDefined && !idIntegral)
                respond(ex, 400,
                  """{"error":"radius requires an integral id column"}""")
              else if (radiusOpt.isDefined) {
                val r = radiusOpt.get
                val ranged = index match {
                  case Some(m) =>
                    graft.operators.IvfIndex.rangeSearch(m, queries, r,
                      nprobe.getOrElse(m.centroids.length), metric,
                      filter = pred)
                  case None =>
                    val qcol = org.apache.spark.sql.functions
                      .typedlit(vec.get.toSeq)
                    val w = org.apache.spark.sql.expressions.Window
                      .orderBy(col("dist"), col("nid"))
                    pred.foldLeft(df)(_.where(_))
                      .select(col(idCol).cast("long").as("nid"),
                        Knn.distance(metric)(col(vecCol), qcol)
                          .as("dist"))
                      .where(col("dist") <= r)
                      .withColumn("rank", row_number().over(w))
                      .withColumn("qid", lit(0L))
                }
                val res = ranged
                  .select(col("qid"), col("nid"), col("rank"),
                    col("dist"))
                  .orderBy(col("rank")).limit(rlimit).collect()
                val items = res.map { rr =>
                  s"""{"id":${rr.get(1)},"rank":${rr.getInt(2)},
                     |"distance":${rr.getDouble(3)}}""".stripMargin
                    .replace("\n", "")
                }.mkString("[", ",", "]")
                respond(ex, 200, s"""{"results":$items}""")
              } else {
                val res = mmrLambda match {
                  case Some(l) =>
                    val wide = nearest(math.max(4 * k, 20), 0)
                    // k rows with distinct ranks: sort them here, not
                    // with a Spark sort (a sampling job and a stage)
                    graft.operators.Knn.mmrRerank(wide, df, idCol,
                        vecCol, l, k)
                      .collect()
                      .sortBy(r => r.getInt(r.fieldIndex("mmr_rank")))
                  case None =>
                    nearest(k, shortlistOpt.getOrElse(math.max(4 * k, 40)))
                      .collect()
                      .sortBy(r => r.getInt(r.fieldIndex("rank")))
                }
                val items = res.map { r =>
                  val id = r.get(1) match {
                    case s: String =>
                      "\"" + graft.util.Json.escape(s) + "\""
                    case other => other.toString
                  }
                  val d = r.getDouble(3)
                  val dist =
                    if (d.isNaN || d.isInfinite) "null" else d.toString
                  s"""{"id":$id,"rank":${r.getInt(2)},"distance":$dist}"""
                }.mkString("[", ",", "]")
                respond(ex, 200, s"""{"results":$items}""")
              }
          }
        }

      // ---- materialized-rollup (summary) lifecycle ----------------
      // The rollup is an operable artifact like /index: register it,
      // watch its chunk debt, compact it, drop it — no Scala needed.
      //   POST   .../summary          {"dims":[...],"measures":[...],
      //                               "refresh":true?} → build (or
      //                               rebuild) + install the rewrite
      //   GET    .../summary/stats    → chunk debt (the compact
      //                               trigger), rows, dims/measures
      //   POST   .../summary/compact  → fold delta chunks rollup-
      //                               locally (never rescans the base)
      //   DELETE .../summary          → uninstall the rewrite
      case ("POST", List("collections", name, "summary")) =>
        tableOr404(ex, name).foreach { df =>
          val dims = body.strings("dims").getOrElse(Nil)
          val measures = body.strings("measures").getOrElse(Nil)
          val refresh = body.bool("refresh").contains(true)
          // optional EXPRESSION measures ("expr_measures":
          // ["revenue:l_extendedprice * (1 - l_discount)"] — name:sql
          // split on the first ':', the format /summary/advise emits),
          // so the advise → register loop closes for derived-aggregate
          // workloads like the TPC-H Q1 shape
          val exprRaw = body.strings("expr_measures").getOrElse(Nil)
          val exprs = exprRaw.flatMap { s =>
            val i = s.indexOf(':')
            if (i <= 0 || i == s.length - 1) None
            else Some(graft.plans.SummaryRewrite.ExprMeasure(
              s.substring(0, i).trim, s.substring(i + 1).trim))
          }
          // parse-validate each expression up front (400, not a 500
          // out of the rollup build) and pin its references to the
          // collection's columns
          val exprErr: Option[String] = exprs.flatMap { em =>
            if (!validIdent(em.name))
              Some(s"expr measure name '${em.name}' is not a valid " +
                "identifier")
            else scala.util.Try(
                spark.sessionState.sqlParser.parseExpression(em.sql))
              .toOption match {
              case None =>
                Some(s"expr measure '${em.name}' does not parse")
              case Some(pe) =>
                val refs = pe.collect {
                  case a: org.apache.spark.sql.catalyst.analysis
                      .UnresolvedAttribute => a.name
                }
                if (refs.isEmpty)
                  Some(s"expr measure '${em.name}' references no column")
                else refs.find(r => !df.columns.contains(r))
                  .map(r => s"expr measure '${em.name}' references " +
                    s"'$r', not a column of $name")
            }
          }.headOption
          // optional sketch measures: HLL keys ("hll_keys":["user_id"],
          // precision via "hll_p") and histogram descriptors
          // ("histograms":["latency:0:60000:600"])
          val hllP = body.int("hll_p").getOrElse(8)
          val hllKeys = body.strings("hll_keys").getOrElse(Nil)
          val hlls = hllKeys.map(k => SketchSpec(k, hllP))
          val histRaw = body.strings("histograms").getOrElse(Nil)
          val itemsRaw = body.strings("items").getOrElse(Nil)
          // optional KMV overlap sketches ("kmv_keys":["o_custkey"],
          // k via "kmv_k", default 2048)
          val kmvK = body.int("kmv_k").getOrElse(2048)
          val kmvKeys = body.strings("kmv_keys").getOrElse(Nil)
          val kmvs = kmvKeys.map(k => KmvSpec(k, kmvK))
          // optional vector-sum (centroid) measures over ARRAY<FLOAT>
          // embedding columns ("vec_cols":["embedding"])
          val vecCols = body.strings("vec_cols").getOrElse(Nil)
          val vecs = vecCols.map(c => VecSpec(c))
          // optional bottom-k sample-quantile sketches
          // ("sample_cols":["latency:request_id"] — value:unique-id
          // pairs; k via "sample_k", default 1024)
          val smpK = body.int("sample_k").getOrElse(1024)
          val smpRaw = body.strings("sample_cols").getOrElse(Nil)
          val samples = smpRaw.flatMap { s =>
            s.split(':') match {
              case Array(v, id) => Some(SampleQSpec(id, v, smpK))
              case _ => None
            }
          }
          // optional HDR log2-bucket quantile sketches over INTEGRAL
          // columns ("hdr_cols":["latency_us"], sub-bucket bits via
          // "hdr_p", default 5 — relative error <= 2^-p, no range
          // declaration needed; the expression form stays Scala-only)
          val hdrP = body.int("hdr_p").getOrElse(5)
          val hdrCols = body.strings("hdr_cols").getOrElse(Nil)
          val hdrs = hdrCols.map(c => HdrSpec(c, c, hdrP))
          // optional count-min point-frequency sketches over integral
          // key columns ("cms_keys":["user_id"], depth/width via
          // "cms_d"/"cms_w", defaults 4x512)
          val cmsD = body.int("cms_d").getOrElse(4)
          val cmsW = body.int("cms_w").getOrElse(512)
          val cmsKeys = body.strings("cms_keys").getOrElse(Nil)
          val cmss = cmsKeys.map(k => CmsSpec(k, cmsD, cmsW))
          val cols = df.columns.toSet
          val paths = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation =>
              l.relation match {
                case fs: org.apache.spark.sql.execution.datasources
                    .HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
          }.flatten
          (parseHistSpecs(histRaw), parseItemsSpecs(itemsRaw)) match {
            case (Left(err), _) =>
              respond(ex, 400, s"""{"error":"$err"}""")
            case (_, Left(err)) =>
              respond(ex, 400, s"""{"error":"$err"}""")
            case (Right(histograms), Right(items)) =>
              if (dims.isEmpty || (measures.isEmpty && exprs.isEmpty))
                respond(ex, 400,
                  """{"error":"dims and measures (or expr_measures) """ +
                    """arrays are required"}""")
              else if (exprs.size != exprRaw.size)
                respond(ex, 400,
                  """{"error":"expr_measures entries must be """ +
                    """name:sql pairs"}""")
              else if (exprErr.isDefined)
                respond(ex, 400, s"""{"error":"${graft.util.Json
                  .escape(exprErr.get)}"}""")
              else if (kmvK < 2 || kmvK > graft.operators.Kmv.MaxK)
                respond(ex, 400,
                  s"""{"error":"kmv_k must be in [2, """ +
                    s"""${graft.operators.Kmv.MaxK}]"}""")
              else if (smpK < 2 || smpK > graft.operators.Smp.MaxK)
                respond(ex, 400,
                  s"""{"error":"sample_k must be in [2, """ +
                    s"""${graft.operators.Smp.MaxK}]"}""")
              else if (samples.size != smpRaw.size)
                respond(ex, 400,
                  """{"error":"sample_cols entries must be """ +
                    """value:id pairs"}""")
              else if (hdrP < 1 || hdrP > 8)
                respond(ex, 400,
                  """{"error":"hdr_p must be in [1, 8]"}""")
              else if (cmsD < 1 || cmsD > graft.operators.Cms.maxDepth ||
                  cmsW < 2 || cmsW > (1 << 20))
                respond(ex, 400,
                  s"""{"error":"cms_d must be in [1, """ +
                    s"""${graft.operators.Cms.maxDepth}], cms_w in """ +
                    """[2, 2^20]"}""")
              else if (!(dims ++ measures ++ hllKeys ++
                  histograms.map(_.col) ++ items.map(_.col) ++ kmvKeys ++
                  vecCols ++ samples.map(_.value) ++ samples.map(_.id) ++
                  hdrCols ++ cmsKeys)
                  .forall(c => validIdent(c) && cols.contains(c)))
                respond(ex, 400,
                  s"""{"error":"dims/measures/sketch columns must be """ +
                    s"""columns of $name"}""")
              else if (paths.size != 1)
                respond(ex, 400,
                  """{"error":"summary needs a collection backed by """ +
                    """one parquet table"}""")
              else {
                val sumDir = s"${System.getProperty("java.io.tmpdir")}/" +
                  s"graft_http_summary_${java.lang.ProcessHandle.current().pid()}_$name"
                summaries.put(name, (paths.head,
                  graft.plans.SummaryRewrite.register(spark, paths.head,
                    sumDir, dims, measures, refresh = refresh,
                    sketches = hlls ++ histograms ++ items ++ kmvs ++ vecs ++
                      samples ++ hdrs ++ cmss,
                    exprs = exprs)))
                val chunks = spark.read.parquet(sumDir)
                  .select(col("chunk")).distinct().count()
                respond(ex, 200,
                  s"""{"summary":"$name","dims":${dims.size},""" +
                    s""""measures":${measures.size},""" +
                    s""""exprs":${exprs.size},""" +
                    s""""sketches":${hlls.size},""" +
                    s""""histograms":${histograms.size},""" +
                    s""""items":${items.size},""" +
                    s""""kmvs":${kmvs.size},""" +
                    s""""vecs":${vecs.size},""" +
                    s""""samples":${samples.size},""" +
                    s""""hdrs":${hdrs.size},""" +
                    s""""cms":${cmss.size},""" +
                    s""""chunks":$chunks}""")
              }
          }
        }

      // serve a distinct-count estimate from the rollup's HLL
      // registers: {"key":"user_id","dims":["day"]} — dims empty or
      // absent = global
      case ("POST", List("collections", name, "summary", "distinct")) =>
        summaryRead(ex, name, body, "key", "hll_keys",
            { case h: SketchSpec => h.key })(()).foreach {
          case (reg, gdims, key, _) =>
            respondRows(ex, gdims, SummaryRewrite.approxDistinct(
                spark, reg.summaryDir, gdims, key)) { (r, i) =>
              Seq(s""""est_distinct":${r.getLong(i)}""")
            }
        }

      // serve approximate quantiles from the rollup's histogram
      // counts: {"col":"latency","qs":[0.5,0.99],"dims":["day"]}
      case ("POST", List("collections", name, "summary", "quantile")) =>
        summaryRead(ex, name, body, "col", "histograms",
            { case h: HistSpec => h.col })(quantiles(body)).foreach {
          case (_, _, _, qs) if qs.isEmpty || qs.exists(q => q <= 0 || q > 1) =>
            respond(ex, 400, """{"error":"qs must be in (0, 1]"}""")
          case (reg, gdims, c, qs) =>
            val h = reg.sketches.collectFirst {
              case h: HistSpec if h.col == c => h }.get
            respondRows(ex, gdims, SummaryRewrite.approxQuantile(
                spark, reg.summaryDir, gdims, c, qs, h.lo, h.hi)) { (r, i) =>
              qs.indices.map(j => quantileField(qs(j), r.get(i + j)))
            }
        }

      // serve range-free quantiles from the rollup's bottom-k sample
      // sketches: {"col":"latency","qs":[0.5,0.99],"dims":["day"]} —
      // per-chunk samples fold by k-hash-smallest, the read is the
      // lower order statistic of the folded sample's values (an
      // actual data value; exact below saturation, deterministic
      // always). dims empty or absent = global
      case ("POST",
          List("collections", name, "summary", "samplequantile")) =>
        summaryRead(ex, name, body, "col", "sample_cols",
            { case sp: SampleQSpec => sp.value })(quantiles(body)).foreach {
          case (_, _, _, qs) if qs.isEmpty || qs.exists(q => q < 0 || q > 1) =>
            respond(ex, 400, """{"error":"qs must be in [0, 1]"}""")
          case (reg, gdims, c, qs) =>
            respondRows(ex, gdims, SummaryRewrite.sampleQuantiles(
                spark, reg.summaryDir, gdims, c, qs)) { (r, i) =>
              s""""n_sample":${
                if (r.isNullAt(i)) "null" else r.getInt(i).toString}""" +:
                qs.indices.map(j => quantileField(qs(j), r.get(i + 1 + j)))
            }
        }

      // serve relative-error quantiles from the rollup's HDR
      // log2-bucket counts: {"col":"latency_us","qs":[0.5,0.99],
      // "dims":["day"]} — integer-exact rank walk, answer = holding
      // bucket's lower bound (within 2^-p of the true quantile).
      // dims empty or absent = global
      case ("POST",
          List("collections", name, "summary", "hdrquantile")) =>
        summaryRead(ex, name, body, "col", "hdr_cols",
            { case h: HdrSpec => h.name })(quantiles(body)).foreach {
          case (_, _, _, qs) if qs.isEmpty || qs.exists(q => q <= 0 || q > 1) =>
            respond(ex, 400, """{"error":"qs must be in (0, 1]"}""")
          case (reg, gdims, c, qs) =>
            // rationals at 1/10000 grain: the read is integer-exact
            // in (qNum, qDen), so the REST float only picks the rank
            val rats = qs.map(q => (math.round(q * 10000), 10000L))
            respondRows(ex, gdims, SummaryRewrite.hdrQuantiles(
                spark, reg.summaryDir, gdims, c, rats)) { (r, i) =>
              qs.indices.map(j => quantileField(qs(j), r.get(i + j)))
            }
        }

      // serve count-min point-frequency estimates from the rollup's
      // registers: {"key":"user_id","values":[7,42],"dims":["day"]} —
      // one-sided (est >= true count). dims empty or absent = global
      case ("POST", List("collections", name, "summary", "freq")) =>
        summaryRead(ex, name, body, "key", "cms_keys",
            { case cs: CmsSpec => cs.key })(
            body.longs("values").map(_.toSeq).getOrElse(Nil)).foreach {
          case (_, _, _, values) if values.isEmpty =>
            respond(ex, 400, """{"error":"values array is required"}""")
          case (reg, gdims, key, values) =>
            respondRows(ex, gdims, SummaryRewrite.approxFreq(
                spark, reg.summaryDir, gdims, key, values)) { (r, i) =>
              Seq(s""""$key":${r.getLong(i)}""",
                s""""est":${r.getLong(i + 1)}""")
            }
        }

      // row-level delete propagation: {"where":"<predicate over base
      // columns>","chunk":-2} appends sign-negated partials for the
      // matching rows (SummaryStream.retract), so COUNT/SUM/AVG keep
      // serving net values while MIN/MAX and distinct shapes fall
      // back to base until a refresh rebuild. The BASE delete itself
      // is the caller's storage operation — this endpoint keeps the
      // rollup consistent with it.
      case ("POST", List("collections", name, "summary", "retract")) =>
        Option(summaries.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no summary on $name"))
          case Some((dataPath, reg)) =>
            val pred = body.str("where")
            val chunk = body.long("chunk").getOrElse(-2L)
            tableOr404(ex, name).foreach { df =>
              if (pred.isEmpty)
                respond(ex, 400,
                  """{"error":"where predicate is required"}""")
              else {
                try {
                  val deleted = df.where(expr(pred.get))
                  val n = deleted.count()
                  graft.streaming.SummaryStream.retract(spark,
                    dataPath, reg.summaryDir, deleted, reg.dims,
                    reg.measures, chunk)
                  respond(ex, 200,
                    s"""{"retracted":"$name","rows":$n,""" +
                      s""""chunk":$chunk,"restriction":"min/max and """ +
                      """distinct shapes serve from base until a """ +
                      """refresh rebuild"}""")
                } catch {
                  case e: IllegalArgumentException =>
                    respond(ex, 400, s"""{"error":"${graft.util.Json
                      .escape(e.getMessage)}"}""")
                  case scala.util.control.NonFatal(e) =>
                    respond(ex, 400, s"""{"error":"${graft.util.Json
                      .escape("bad predicate: " + e.getMessage)}"}""")
                }
              }
            }
        }

      // retention delete: drop one ingest batch's partials — exact
      // for every measure kind, no serve restriction
      case ("DELETE",
          List("collections", name, "summary", "chunk", chunkId)) =>
        Option(summaries.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no summary on $name"))
          case Some((_, reg)) =>
            scala.util.Try(chunkId.toLong).toOption match {
              case None =>
                respond(ex, 400, """{"error":"chunk must be a long"}""")
              case Some(c) =>
                try {
                  graft.streaming.SummaryStream.deleteChunk(spark,
                    reg.summaryDir, c)
                  respond(ex, 200,
                    s"""{"deleted_chunk":$c,"summary":"$name"}""")
                } catch {
                  case e: IllegalArgumentException =>
                    respond(ex, 404, s"""{"error":"${graft.util.Json
                      .escape(e.getMessage)}"}""")
                }
            }
        }

      // serve top-k frequent items from the rollup's Misra-Gries
      // summaries: {"col":"domain","k":10,"dims":["day"]} — per-chunk
      // summaries fold with the mergeable cut at the registered
      // capacity; dims empty or absent = global
      case ("POST", List("collections", name, "summary", "topitems")) =>
        summaryRead(ex, name, body, "col", "items",
            { case it: ItemsSpec => it.col })(body.int("k").getOrElse(10))
          .foreach {
            case (_, _, _, k) if k <= 0 || k > 1000 =>
              respond(ex, 400, """{"error":"k must be in [1, 1000]"}""")
            case (reg, gdims, c, k) =>
              respondRows(ex, gdims, SummaryRewrite.approxTopItems(
                  spark, reg.summaryDir, gdims, c, k)) { (r, i) =>
                Seq(s""""rank":${r.getInt(i)}""",
                  s""""item":${jsonId(r.getString(i + 1))}""",
                  s""""est":${r.getLong(i + 2)}""")
              }
          }

      // serve the pairwise distinct-key overlap of dim groups from
      // the rollup's KMV sketches: {"key":"o_custkey",
      // "dims":["o_orderstatus"]} — every unordered group pair gets
      // est_a/est_b/est_common/jaccard without touching the base
      case ("POST", List("collections", name, "summary", "overlap")) =>
        summaryRead(ex, name, body, "key", "kmv_keys",
            { case kv: KmvSpec => kv.key }, pairwise = true)(()).foreach {
          case (reg, gdims, key, _) =>
            respondRows(ex, gdims, SummaryRewrite.approxOverlap(
                spark, reg.summaryDir, gdims, key), pairwise = true) {
              (r, i) => Seq(s""""est_a":${r.getLong(i)}""",
                s""""est_b":${r.getLong(i + 1)}""",
                s""""est_common":${r.getLong(i + 2)}""",
                s""""jaccard":${r.getDouble(i + 3)}""")
            }
        }

      // serve per-group embedding centroids from the rollup's vector-
      // sum partials: {"col":"embedding","dims":["label"]} — dims
      // empty or absent = global corpus centroid. The read is dim-
      // cardinality-sized; the base table is never touched.
      case ("POST", List("collections", name, "summary", "centroid")) =>
        summaryRead(ex, name, body, "col", "vec_cols",
            { case v: VecSpec => v.col })(()).foreach {
          case (reg, gdims, c, _) =>
            respondRows(ex, gdims, SummaryRewrite.groupCentroids(
                spark, reg.summaryDir, gdims, c)) { (r, i) =>
              // an all-null vector group serves n=0, centroid=null
              val cent =
                if (r.isNullAt(i + 1)) "null"
                else r.getSeq[Double](i + 1).mkString("[", ",", "]")
              Seq(s""""n":${if (r.isNullAt(i)) 0L else r.getLong(i)}""",
                s""""centroid":$cent""")
            }
        }

      // ADVISE a rollup registration from a SQL workload: the queries
      // are ANALYZED (never executed) against the collection's view;
      // the response is the registration /summary would accept plus
      // the go/no-go economics (rollup rows = dim-combination
      // cardinality vs fact rows). {"queries":["SELECT ... FROM
      // <collection> GROUP BY ...", ...]}
      // session-wide workload CAPTURE lifecycle: start/stop the
      // QueryExecutionListener, inspect/clear the captured set — so
      // the observe → advise → register → serve loop is operable
      // without Scala, like every other artifact
      case ("POST", List("capture", "start")) =>
        graft.plans.SummaryAdvisor.startCapture(spark)
        respond(ex, 200, s"""{"capture":"started","captured":${
          graft.plans.SummaryAdvisor.capturedCount}}""")

      case ("POST", List("capture", "stop")) =>
        graft.plans.SummaryAdvisor.stopCapture(spark)
        respond(ex, 200, s"""{"capture":"stopped","captured":${
          graft.plans.SummaryAdvisor.capturedCount}}""")

      case ("GET", List("capture")) =>
        respond(ex, 200, s"""{"active":${
          graft.plans.SummaryAdvisor.captureActive},"captured":${
          graft.plans.SummaryAdvisor.capturedCount}}""")

      case ("DELETE", List("capture")) =>
        graft.plans.SummaryAdvisor.clearCaptured()
        respond(ex, 200, """{"cleared":true}""")

      case ("POST", List("collections", name, "summary", "advise")) =>
        tableOr404(ex, name).foreach { df =>
          val qs = body.strings("queries").getOrElse(Nil)
          // {"captured": true} (or ?captured=true) advises from the
          // session's CAPTURED workload instead of an explicit list
          val captured =
            body.bool("captured").contains(true) ||
              Option(ex.getRequestURI.getQuery)
                .exists(_.contains("captured=true"))
          val paths = df.queryExecution.optimizedPlan.collect {
            case l: org.apache.spark.sql.execution.datasources
                .LogicalRelation =>
              l.relation match {
                case fs: org.apache.spark.sql.execution.datasources
                    .HadoopFsRelation =>
                  fs.location.rootPaths.map(_.toString)
                case _ => Nil
              }
          }.flatten
          if (qs.isEmpty && !captured)
            respond(ex, 400,
              """{"error":"queries array (or captured:true) is """ +
                """required"}""")
          else if (paths.size != 1)
            respond(ex, 400,
              """{"error":"advise needs a collection backed by one """ +
                """parquet table"}""")
          else {
            try {
              // Honor the "analyzed, never executed" contract: spark.sql
              // EAGERLY executes command plans (DROP/CREATE/INSERT/
              // INSERT OVERWRITE DIRECTORY), so a mutation smuggled into
              // the workload array would run. Parse first, reject any
              // plan containing a command node, and only then wrap the
              // pure-query plan as a (lazy) DataFrame for analysis.
              import org.apache.spark.sql.catalyst.plans.logical.{
                Command, InsertIntoDir, ParsedStatement}
              val workload = qs.map { q =>
                val plan = spark.sessionState.sqlParser.parsePlan(q)
                val cmd = plan.collectFirst {
                  case c: Command => c
                  case c: ParsedStatement => c
                  case c: InsertIntoDir => c
                }
                if (cmd.isDefined)
                  throw new org.apache.spark.sql.AnalysisException(
                    "INTERNAL_ERROR",
                    Map("message" ->
                      ("advise analyzes queries only; statement is a " +
                        s"command: ${cmd.get.nodeName}")))
                org.apache.spark.sql.graftshim.GraftShims
                  .dataFrame(spark, plan)
              }
              val rec =
                if (captured) graft.plans.SummaryAdvisor
                  .recommendCaptured(spark, paths.head)
                else graft.plans.SummaryAdvisor.recommend(spark,
                  paths.head, workload)
              def arr(xs: Seq[String]) =
                xs.map("\"" + _ + "\"").mkString("[", ",", "]")
              val reports = rec.reports.map { r =>
                s"""{"servable":${r.servable},""" +
                  s""""reason":"${graft.util.Json.escape(r.reason)}"}"""
              }.mkString("[", ",", "]")
              // {"apply":true} registers the recommendation in the
              // same call (one round-trip observe → advise → serve;
              // percentile workloads over fractional columns also need
              // "sample_id", the unique row id the sample sketch
              // hashes). The advisory-only default stays side-effect
              // free.
              val applyNow = body.bool("apply").contains(true)
              val sampleId = body.str("sample_id").getOrElse("")
              val applied =
                if (!applyNow) ""
                else if (rec.dims.isEmpty ||
                    (rec.measures.isEmpty && rec.exprMeasures.isEmpty))
                  ""","applied":false,"apply_error":"nothing to register: the workload yields no dims+measures""""
                else if (rec.sampleCols.nonEmpty && sampleId.isEmpty)
                  ""","applied":false,"apply_error":"workload reads percentiles of fractional columns: pass sample_id""""
                else {
                  val sumDir =
                    s"${System.getProperty("java.io.tmpdir")}/" +
                      "graft_http_summary_" +
                      s"${java.lang.ProcessHandle.current().pid()}_$name"
                  summaries.put(name, (paths.head, rec.register(spark,
                    paths.head, sumDir, refresh = true, sampleId = sampleId)))
                  val chunks = spark.read.parquet(sumDir)
                    .select(col("chunk")).distinct().count()
                  s""","applied":true,"chunks":$chunks"""
                }
              respond(ex, 200,
                s"""{"dims":${arr(rec.dims)},""" +
                  s""""measures":${arr(rec.measures)},""" +
                  s""""expr_measures":${arr(rec.exprMeasures
                    .map(em => graft.util.Json
                      .escape(s"${em.name}:${em.sql}")))},""" +
                  s""""hll_keys":${arr(rec.sketchKeys)},""" +
                  s""""sample_cols":${arr(rec.sampleCols)},""" +
                  s""""hdr_cols":${arr(rec.hdrCols)},""" +
                  s""""fact_rows":${rec.factRows},""" +
                  s""""rollup_rows":${rec.rollupRows},""" +
                  s""""reduction":${
                    if (rec.rollupRows == 0) 0.0
                    else (rec.factRows * 10000L / rec.rollupRows) /
                      10000.0},""" +
                  s""""servable":${rec.servable},""" +
                  s""""total":${rec.total},""" +
                  s""""queries":$reports$applied}""")
            } catch {
              case e: org.apache.spark.sql.AnalysisException =>
                respond(ex, 400, s"""{"error":"${graft.util.Json
                  .escape(e.getMessage.take(300))}"}""")
            }
          }
        }

      case ("GET", List("collections", name, "summary", "stats")) =>
        Option(summaries.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no summary on $name"))
          case Some((dataPath, reg)) =>
            val byChunk = spark.read.parquet(reg.summaryDir)
              .groupBy(col("chunk")).agg(count(lit(1)).as("rows"))
              .orderBy(col("chunk")).collect()
            val items = byChunk.map(r =>
              s"""{"chunk":${r.get(0)},"rows":${r.getLong(1)}}""")
              .mkString("[", ",", "]")
            val (fired, errors) = graft.plans.SummaryRewrite.stats
            val retracted = graft.plans.SummaryRewrite
              .entryFor(spark, dataPath).exists(_.retracted)
            respond(ex, 200,
              s"""{"summary":"$name","n_chunks":${byChunk.length},""" +
                s""""dims":[${reg.dims.map("\"" + _ + "\"").mkString(",")}],""" +
                s""""measures":[${reg.measures.map("\"" + _ + "\"").mkString(",")}],""" +
                s""""exprs":[${reg.exprs.map("\"" + _.name + "\"").mkString(",")}],""" +
                s""""retracted":$retracted,""" +
                s""""rule":{"fired":$fired,"errors":$errors},""" +
                s""""chunks":$items}""")
        }

      case ("POST", List("collections", name, "summary", "compact")) =>
        Option(summaries.get(name)) match {
          case None =>
            respond(ex, 404, error(s"no summary on $name"))
          case Some((_, reg)) =>
            val before = spark.read.parquet(reg.summaryDir)
              .select(col("chunk")).distinct().count()
            graft.streaming.SummaryStream.compact(spark, reg.summaryDir,
              reg.dims)
            respond(ex, 200,
              s"""{"compacted":"$name","chunks_before":$before,""" +
                """"chunks_after":1}""")
        }

      case ("DELETE", List("collections", name, "summary")) =>
        Option(summaries.remove(name)) match {
          case None =>
            respond(ex, 404, error(s"no summary on $name"))
          case Some((dataPath, _)) =>
            graft.plans.SummaryRewrite.unregister(spark, dataPath)
            respond(ex, 200, s"""{"dropped_summary":"$name"}""")
        }

      case _ => respond(ex, 404, """{"error":"not found"}""")
    }

  def start(): HttpApi = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    this
  }

  /** Stop accepting requests, let in-flight handlers finish (up to 30 s,
    * then interrupt them), and shut the handler pool down.
    */
  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    if (!pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdownNow()
  }
}
