package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.SparkSuite
import graft.util.MiniJson

class HttpApiSpec extends SparkSuite {

  private lazy val api = {
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("embeddings")
    new HttpApi(spark).start()
  }
  private lazy val base = s"http://localhost:${api.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def delete(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .DELETE().build(), HttpResponse.BodyHandlers.ofString())

  private def put(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /collections lists registered tables") {
    val r = get("/collections")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"embeddings\""))
  }

  test("GET /collections/{name} describes schema and rows") {
    val r = get("/collections/embeddings")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"rows\":500"))
    assert(r.body().contains("\"type\":\"array<float>\""))
  }

  test("POST search by vector returns ranked neighbors") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val r = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":3}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"rank\":1") && r.body().contains("\"rank\":3"))
  }

  test("POST search by text embeds the query (reference search path)") {
    val r = post("/collections/embeddings/search",
      """{"text":"fast key order scan","k":2,"metric":"cos"}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"results\":[{\"id\":"))
  }

  test("404 on unknown collection; 400 on missing vector/text") {
    assert(get("/collections/nope").statusCode() === 404)
    val r = post("/collections/embeddings/search", """{"k":3}""")
    assert(r.statusCode() === 400)
  }

  test("POST /collections creates with the reference default schema") {
    val r = post("/collections", """{"name":"apitest_default"}""")
    assert(r.statusCode() === 201)
    val desc = get("/collections/apitest_default")
    assert(desc.body().contains("\"name\":\"vector\"")
      && desc.body().contains("\"type\":\"array<float>\""))
    assert(post("/collections", """{"name":"apitest_default"}""")
      .statusCode() === 409)
    assert(delete("/collections/apitest_default").statusCode() === 200)
    assert(get("/collections/apitest_default").statusCode() === 404)
  }

  test("POST /collections validates names and column types") {
    assert(post("/collections", """{"name":"x; DROP TABLE y"}""")
      .statusCode() === 400)
    val r = post("/collections",
      """{"name":"apitest_bad","columns":{"c":"array<map<int,int>>"}}""")
    assert(r.statusCode() === 400)
  }

  test("POST /keywords returns per-doc tf-idf terms; params guard 400") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_kw_api")
    val r = post("/collections/docs_kw_api/keywords", """{"k":2}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"term\":") &&
      r.body().contains("\"rank\":2"), r.body())
    // every doc contributes at most k rows
    val perDoc = "\"id\":(\\d+)".r.findAllMatchIn(r.body())
      .map(_.group(1)).toSeq.groupBy(identity).values.map(_.size)
    assert(perDoc.nonEmpty && perDoc.max <= 2)
    assert(post("/collections/docs_kw_api/keywords",
      """{"column":"nope"}""").statusCode() === 400)
    assert(post("/collections/docs_kw_api/keywords",
      """{"k":0}""").statusCode() === 400)
    // string id columns must come back as QUOTED JSON (the jsonId
    // path): the response must parse and carry string ids
    spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("concat('doc-', doc_id) AS sid", "text")
      .createOrReplaceTempView("docs_kw_sid")
    val rs = post("/collections/docs_kw_sid/keywords",
      """{"k":1,"id_column":"sid","limit":5}""")
    assert(rs.statusCode() === 200)
    assert(rs.body().contains("\"id\":\"doc-"), rs.body())
    // column names ride into a SQL template: a name that exists in the
    // schema but is not a valid bare identifier must 400, matching the
    // validIdent posture of search_text/search_hybrid
    spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text AS `body text`")
      .createOrReplaceTempView("docs_kw_odd")
    assert(post("/collections/docs_kw_odd/keywords",
      """{"column":"body text","id_column":"doc_id"}""")
      .statusCode() === 400)
  }

  test("POST search_sparse ranks by integer impact scores; guards 400") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_sparse_api")
    val r = post("/collections/docs_sparse_api/search_sparse",
      """{"query":"table scan fast","k":5}""")
    assert(r.statusCode() === 200, r.body())
    val scores = "\"score\":(\\d+)".r.findAllMatchIn(r.body())
      .map(_.group(1).toLong).toSeq
    assert(scores.nonEmpty && scores.length <= 5)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"scores not descending: $scores")
    assert(post("/collections/docs_sparse_api/search_sparse",
      """{"query":""}""").statusCode() === 400)
    assert(post("/collections/docs_sparse_api/search_sparse",
      """{"query":"table","k":0}""").statusCode() === 400)
    assert(post("/collections/docs_sparse_api/search_sparse",
      """{"query":"table","text_column":"nope"}""").statusCode() === 400)
  }

  test("POST search_text runs BM25 over a text collection") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_api")
    val r = post("/collections/docs_api/search_text",
      """{"query":"table scan fast","k":5}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"rank\":1") && r.body().contains("\"bm25\":"))
    // missing query -> 400
    assert(post("/collections/docs_api/search_text", "{}")
      .statusCode() === 400)
  }

  test("POST search_hybrid fuses BM25 and cosine via RRF") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_api2")
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val r = post("/collections/docs_api2/search_hybrid",
      s"""{"query":"table scan fast","vector":[$vec],"k":5,
         |"vector_collection":"embeddings","vector_id_column":"vec_id"}"""
        .stripMargin.replace("\n", ""))
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"rrf\":"))
    assert(r.body().contains("\"bm25_rank\":") &&
      r.body().contains("\"cos_rank\":"))
    // missing vector -> 400
    assert(post("/collections/docs_api2/search_hybrid",
      """{"query":"table"}""").statusCode() === 400)
  }

  test("POST /collections/{name}/dedup removes near-dups and registers " +
      "the survivor view") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_dedup_api")
    val r = post("/collections/docs_dedup_api/dedup", """{"tau":0.5}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"survivors\":\"docs_dedup_api_dedup\""))
    val surv = spark.table("docs_dedup_api_dedup")
    val total = spark.table("docs_dedup_api").count()
    assert(surv.count() < total) // fixture has planted dups
    // parameter validation
    assert(post("/collections/docs_dedup_api/dedup",
      """{"tau":1.5}""").statusCode() === 400)
    assert(post("/collections/docs_dedup_api/dedup",
      """{"text_column":"nope"}""").statusCode() === 400)
  }

  test("POST /collections/{name}/topk returns exact frequent items " +
      "(sketch candidates + exact recount) and validates params") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_topk_api")
    // n-gram mode over the text column: counts word bigrams
    val r = post("/collections/docs_topk_api/topk",
      """{"column":"text","k":5,"capacity":2048,"ngram":2}""")
    assert(r.statusCode() === 200, r.body())
    val counts = "\"count\":(\\d+)".r.findAllMatchIn(r.body())
      .map(_.group(1).toLong).toSeq
    assert(counts.length === 5 && counts == counts.sorted.reverse,
      s"not count-ordered: ${r.body()}")
    // the top bigram's exact count must match a plain aggregation
    val want = spark.sql(
      """SELECT count(*) AS c FROM (
        |  SELECT explode(transform(sequence(1, size(ws) - 1),
        |    i -> element_at(ws, i) || ' ' || element_at(ws, i + 1))) AS g
        |  FROM (SELECT split(trim(text), ' ') AS ws FROM docs_topk_api
        |        WHERE length(trim(text)) > 0) WHERE size(ws) >= 2)
        |GROUP BY g ORDER BY c DESC LIMIT 1""".stripMargin)
      .head.getLong(0)
    assert(counts.head === want)
    // plain column mode: distinct values of a categorical column
    val r2 = post("/collections/docs_topk_api/topk",
      """{"column":"lang","k":3,"capacity":64}""")
    assert(r2.statusCode() === 200, r2.body())
    // validation: unknown column, bad k, capacity < k, bad ngram
    assert(post("/collections/docs_topk_api/topk",
      """{"column":"nope"}""").statusCode() === 400)
    assert(post("/collections/docs_topk_api/topk",
      """{"column":"text","k":0}""").statusCode() === 400)
    assert(post("/collections/docs_topk_api/topk",
      """{"column":"text","k":10,"capacity":5}""").statusCode() === 400)
    assert(post("/collections/docs_topk_api/topk",
      """{"column":"text","ngram":"x"}""").statusCode() === 400)
    assert(post("/collections/docs_topk_api/topk",
      """{"column":"doc_id","ngram":2}""").statusCode() === 400)
  }

  test("POST /collections/{name}/overlap reports winnow-fingerprint " +
      "pairs, top-shared first") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_overlap_api")
    val r = post("/collections/docs_overlap_api/overlap",
      """{"min_shared":5,"limit":3}""")
    assert(r.statusCode() === 200)
    // fixture has planted near-dups -> at least one overlapping pair
    assert("\"shared\":(\\d+)".r.findAllMatchIn(r.body()).nonEmpty,
      r.body())
    val shared = "\"shared\":(\\d+)".r.findAllMatchIn(r.body())
      .map(_.group(1).toLong).toSeq
    assert(shared.length <= 3 && shared == shared.sorted.reverse,
      s"not top-shared ordered: $shared")
    assert(r.body().contains("\"overlap\":"))
    // validation: bad column and non-positive params
    assert(post("/collections/docs_overlap_api/overlap",
      """{"text_column":"nope"}""").statusCode() === 400)
    assert(post("/collections/docs_overlap_api/overlap",
      """{"min_shared":0}""").statusCode() === 400)
  }

  test("POST /collections/{name}/pq runs the PQ pipeline") {
    val r = post("/collections/embeddings/pq",
      """{"clusters":8,"splits":4}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"codebook\":\"embeddings_codebook\""))
    // 8 clusters x 4 splits = 32 codebook rows
    assert(r.body().contains("\"rows\":32"))
    val q = spark.table("embeddings_pq")
    assert(q.count() === 500)
    assert(q.columns.contains("embedding_pq"))
  }

  test("POST /collections/{name}/sq8 registers the scalar model and " +
      "the quantized view") {
    val r = post("/collections/embeddings/sq8", """{}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"model\":\"embeddings_sqmodel\""))
    assert(r.body().contains("\"dims\":64"))
    val q = spark.table("embeddings_sq8")
    assert(q.count() === 500)
    assert(q.columns.contains("embedding_sq8") &&
      !q.columns.contains("embedding"))
    // codes land in [0, 255]
    import org.apache.spark.sql.functions._
    val mm = q.select(explode(col("embedding_sq8")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(mm.getShort(0) >= 0 && mm.getShort(1) <= 255)
    assert(post("/collections/embeddings/sq8",
      """{"vector_column":"nope"}""").statusCode() === 400)
  }

  test("POST /index builds an IVF index; /search probes it and " +
      "matches brute force at full probe") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val brute = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":5}""").body()
    val r = post("/collections/embeddings/index", """{"n_cells":8}""")
    assert(r.statusCode() === 201)
    assert(r.body().contains("\"index\":\"ivf\""))
    // default nprobe = all cells → exact: identical ranked results
    val viaIndex = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":5}""")
    assert(viaIndex.statusCode() === 200)
    assert(viaIndex.body() === brute)
    // partial probe still returns k ranked rows
    val partial = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":5,"nprobe":2}""")
    assert(partial.statusCode() === 200)
    assert(partial.body().contains("\"rank\":5"))
  }

  test("POST /index/delete tombstones ids out of the served index; " +
      "compact purges; guards 400/404") {
    // self-query: vec 7 is its own nearest neighbor before the delete
    val q7 = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select(org.apache.spark.sql.functions.col("embedding"))
      .collect().head.getSeq[Float](0).mkString(",")
    val r = post("/collections/embeddings/index", """{"n_cells":8}""")
    assert(r.statusCode() === 201, r.body())
    val before = post("/collections/embeddings/search",
      s"""{"vector":[$q7],"k":3}""").body()
    assert(before.contains("\"id\":7") || before.contains(":7,"),
      s"vec 7 should self-match first: $before")
    val del = post("/collections/embeddings/index/delete",
      """{"ids":[7]}""")
    assert(del.statusCode() === 200, del.body())
    assert(del.body().contains("\"deleted\":1"))
    val after = post("/collections/embeddings/search",
      s"""{"vector":[$q7],"k":3}""").body()
    assert(!after.contains("\"id\":7,"), s"deleted id served: $after")
    // compact purges physically and results stay identical
    val comp = post("/collections/embeddings/compact", "{}")
    assert(comp.statusCode() === 200, comp.body())
    val afterCompact = post("/collections/embeddings/search",
      s"""{"vector":[$q7],"k":3}""").body()
    assert(afterCompact === after)
    // guards
    assert(post("/collections/embeddings/index/delete", "{}")
      .statusCode() === 400)
    assert(post("/collections/nope/index/delete", """{"ids":[1]}""")
      .statusCode() === 404)
  }

  test("bq-quantized index: build via quantization param, search " +
      "rescoring matches brute force, param guards 400") {
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("bq_vecs")
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val brute = post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5}""").body()
    // shortlist against a collection with no bq index → 400
    assert(post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5,"shortlist":20}""").statusCode() === 400)
    assert(post("/collections/bq_vecs/index",
      """{"n_cells":8,"quantization":"nope"}""").statusCode() === 400)
    val r = post("/collections/bq_vecs/index",
      """{"n_cells":8,"quantization":"bq"}""")
    assert(r.statusCode() === 201)
    assert(r.body().contains("\"quantization\":\"bq\""))
    // full probe + corpus-wide shortlist ⇒ the rescore IS brute force
    val exact = post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5,"shortlist":10000}""")
    assert(exact.statusCode() === 200)
    assert(exact.body() === brute)
    // partial shortlist still returns k ranked rows
    val partial = post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5,"nprobe":4,"shortlist":20}""")
    assert(partial.statusCode() === 200)
    assert(partial.body().contains("\"rank\":5"))
    // shortlist below k is rejected
    assert(post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5,"shortlist":3}""").statusCode() === 400)
    // metadata filter + bq path: every id must satisfy the predicate
    val filtered = post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":3,"shortlist":10000,"filter_column":"label","filter_value":"3"}""")
    assert(filtered.statusCode() === 200)
    val fids = "\"id\":(\\d+)".r.findAllMatchIn(filtered.body())
      .map(_.group(1).toLong).toSeq
    assert(fids.nonEmpty)
    val flabels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id").isin(fids: _*))
      .select("label").collect().map(_.getInt(0)).toSet
    assert(flabels === Set(3))
    // the index listing reports the quantization kind
    val listing = get("/indexes").body()
    assert(listing.contains(
      """"collection":"bq_vecs","n_cells":8,"id_column":"vec_id","vector_column":"embedding","quantization":"bq""""),
      listing)
    // reindex keeps the quantization kind (no silent f32 downgrade)
    val ri = post("/collections/bq_vecs/reindex", "")
    assert(ri.statusCode() === 200 &&
      ri.body().contains("\"quantization\":\"bq\""), ri.body())
    assert(get("/indexes").body().contains(
      """"collection":"bq_vecs","n_cells":8,"id_column":"vec_id","vector_column":"embedding","quantization":"bq""""))
    val exact2 = post("/collections/bq_vecs/search",
      s"""{"vector":[$vec],"k":5,"shortlist":10000}""")
    assert(exact2.body() === brute)
  }

  test("search accepts an equality metadata filter (and it is a typed " +
      "predicate, not SQL)") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val r = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":3,"filter_column":"label","filter_value":"3"}""")
    assert(r.statusCode() === 200)
    // every returned id must have label 3
    val ids = "\"id\":(\\d+)".r.findAllMatchIn(r.body())
      .map(_.group(1).toLong).toSeq
    assert(ids.nonEmpty)
    val labels = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id").isin(ids: _*))
      .select("label").collect().map(_.getInt(0)).toSet
    assert(labels === Set(3))
    // an injection-shaped column name is rejected, never executed —
    // and never silently dropped (that would return unfiltered rows)
    val inj = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":3,"filter_column":"label; DROP TABLE x","filter_value":"3"}""")
    assert(inj.statusCode() === 400)
    // same for a well-formed name that isn't a column of the collection
    val unknown = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":3,"filter_column":"tenant","filter_value":"3"}""")
    assert(unknown.statusCode() === 400)
  }

  test("REST index lifecycle: build -> pruned search -> insert -> " +
      "reindex sees new rows -> drop -> brute-force fallback") {
    // the managed-table dir outlives the per-JVM catalog; clear both
    // so reruns create cleanly
    spark.sql("DROP TABLE IF EXISTS lc_vecs")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "lc_vecs")
    wh.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(wh, true)
    assert(post("/collections",
      """{"name":"lc_vecs","columns":{"vec_id":"bigint","embedding":"array<float>"}}""")
      .statusCode() === 201)
    // 3 well-separated clusters, 20 rows each
    val rows = (0 until 60).map { i =>
      val c = (i % 3) * 10.0f
      val vec = Seq(c, c, c, c).mkString("[", ",", "]")
      s"""{"vec_id":$i,"embedding":$vec}"""
    }.mkString("\n")
    assert(put("/collections/lc_vecs", rows).statusCode() === 200)
    assert(post("/collections/lc_vecs/index",
      """{"n_cells":3,"id_column":"vec_id"}""").statusCode() === 201)
    assert(get("/indexes").body().contains("\"collection\":\"lc_vecs\""))
    val probe = """{"vector":[7,7,7,7],"k":1,"id_column":"vec_id"}"""
    val r1 = post("/collections/lc_vecs/search", probe)
    assert(r1.statusCode() === 200)
    // insert a row exactly at the probe point: the index SNAPSHOT
    // cannot see it, so the old nearest still wins
    assert(put("/collections/lc_vecs",
      """{"vec_id":999,"embedding":[7,7,7,7]}""").statusCode() === 200)
    val r2 = post("/collections/lc_vecs/search", probe)
    assert(!r2.body().contains("\"id\":999"),
      s"index snapshot must not see inserts: ${r2.body()}")
    // one-call reindex: rebuilt from current rows at the same n_cells
    val rr = post("/collections/lc_vecs/reindex", "")
    assert(rr.statusCode() === 200 && rr.body().contains("\"n_cells\":3"))
    val r3 = post("/collections/lc_vecs/search", probe)
    assert(r3.body().contains("\"id\":999,\"rank\":1"),
      s"reindexed search must find the new row: ${r3.body()}")
    // drop the index: 200 then 404; search falls back to brute force
    assert(delete("/collections/lc_vecs/index").statusCode() === 200)
    assert(delete("/collections/lc_vecs/index").statusCode() === 404)
    val r4 = post("/collections/lc_vecs/search", probe)
    assert(r4.statusCode() === 200 &&
      r4.body().contains("\"id\":999,\"rank\":1"))
    // reindex without an index is a 404, not a silent build
    assert(post("/collections/lc_vecs/reindex", "").statusCode() === 404)
  }

  test("malformed numeric params get 400, not 500") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    assert(post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":"abc"}""").statusCode() === 400)
    assert(post("/collections/embeddings/search",
      s"""{"vector":[$vec],"nprobe":"1e"}""").statusCode() === 400)
    assert(post("/collections/embeddings/search",
      s"""{"vector":[$vec],"mmr_lambda":"half"}""").statusCode() === 400)
    assert(post("/collections/embeddings/index",
      """{"n_cells":"abc"}""").statusCode() === 400)
  }

  test("search diversifies with mmr_lambda: k results, rank 1 equals " +
      "the relevance winner, string-id collections get 400") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val plain = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":5}""")
    val mmr = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"k":5,"mmr_lambda":0.5}""")
    assert(mmr.statusCode() === 200)
    def firstId(body: String): String =
      "\"id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
    assert(firstId(mmr.body()) === firstId(plain.body()))
    assert("\"rank\":5".r.findFirstIn(mmr.body()).isDefined)
    // a text-id collection cannot join mmr's long-id candidates
    spark.sql("SELECT CAST(doc_id AS STRING) AS doc_id, text FROM " +
      "parquet.`" + sf0001 + "/documents.parquet`")
      .createOrReplaceTempView("strdocs")
    val bad = post("/collections/strdocs/search",
      s"""{"text":"x","k":2,"id_column":"doc_id","mmr_lambda":0.5}""")
    assert(bad.statusCode() === 400)
  }

  test("POST /index 400s on a non-integral id column for BOTH " +
      "quantizations (a TEXT id would otherwise build then serve " +
      "silently empty searches)") {
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("CAST(vec_id AS STRING) AS vid", "embedding")
      .createOrReplaceTempView("strid_vecs")
    for (quant <- Seq("f32", "bq")) {
      val r = post("/collections/strid_vecs/index",
        s"""{"n_cells":4,"id_column":"vid","quantization":"$quant"}""")
      assert(r.statusCode() === 400, s"$quant: ${r.body()}")
      assert(r.body().contains("integral id column"), r.body())
    }
  }

  test("POST /index validates n_cells and columns") {
    assert(post("/collections/embeddings/index",
      """{"n_cells":0}""").statusCode() === 400)
    assert(post("/collections/embeddings/index",
      """{"vector_column":"nope"}""").statusCode() === 400)
  }

  test("f16 index lifecycle over REST: build, listing kind, full-probe " +
      "search equals the decoded-grid brute force, reindex keeps f16") {
    import org.apache.spark.sql.functions.{col => c}
    import graft.functions.{VectorFunctions => V}
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("f16_vecs")
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val r = post("/collections/f16_vecs/index",
      """{"n_cells":8,"quantization":"f16"}""")
    assert(r.statusCode() === 201, r.body())
    assert(r.body().contains("\"quantization\":\"f16\""))
    assert(get("/indexes").body().contains(
      """"collection":"f16_vecs","n_cells":8,"id_column":"vec_id","vector_column":"embedding","quantization":"f16""""))
    // default nprobe probes all cells: the result must equal exact kNN
    // over the f16 grid (both sides decoded), computed independently
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dec = emb.select(c("vec_id"),
      V.fp16_decode(V.fp16_encode(c("embedding"))).as("embedding"))
    import spark.implicits._
    val q = Seq((0L, Array.fill(64)(0.1f))).toDF("vec_id", "embedding")
      .select(c("vec_id"),
        V.fp16_decode(V.fp16_encode(c("embedding"))).as("embedding"))
    val expect = graft.operators.Knn
      .topK(dec, q, "vec_id", "embedding", 5)
      .orderBy(c("rank")).select(c("nid")).as[Long].collect().toSeq
    val got = post("/collections/f16_vecs/search",
      s"""{"vector":[$vec],"k":5}""")
    assert(got.statusCode() === 200, got.body())
    val gotIds = "\"id\":(\\d+)".r.findAllMatchIn(got.body())
      .map(_.group(1).toLong).toSeq
    assert(gotIds === expect, s"got $gotIds expected $expect")
    // metadata filter rides the probed-cell scan on the f16 path too
    val filtered = post("/collections/f16_vecs/search",
      s"""{"vector":[$vec],"k":3,"filter_column":"label","filter_value":"3"}""")
    assert(filtered.statusCode() === 200)
    val fids = "\"id\":(\\d+)".r.findAllMatchIn(filtered.body())
      .map(_.group(1).toLong).toSeq
    assert(fids.nonEmpty)
    val flabels = emb.where(c("vec_id").isin(fids: _*))
      .select("label").collect().map(_.getInt(0)).toSet
    assert(flabels === Set(3))
    // reindex keeps the quantization kind (no silent f32 downgrade)
    val ri = post("/collections/f16_vecs/reindex", "")
    assert(ri.statusCode() === 200 &&
      ri.body().contains("\"quantization\":\"f16\""), ri.body())
    val again = post("/collections/f16_vecs/search",
      s"""{"vector":[$vec],"k":5}""")
    assert(again.statusCode() === 200)
    assert("\"id\":(\\d+)".r.findAllMatchIn(again.body())
      .map(_.group(1).toLong).toSeq === expect)
  }

  test("an f16-indexed collection answers radius and mmr_lambda " +
      "searches; full-probe radius equals the decoded-grid brute force") {
    import org.apache.spark.sql.functions.{col => c, typedlit}
    import graft.functions.{VectorFunctions => V}
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("f16_range")
    val q = Array.fill(64)(0.1f)
    val vec = q.mkString(",")
    assert(post("/collections/f16_range/index",
      """{"n_cells":8,"quantization":"f16"}""").statusCode() === 201)
    // brute force over the f16 grid: corpus and query both decoded
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q16 = V.fp16_decode(V.fp16_encode(typedlit(q.toSeq)))
    val expect = emb
      .where(V.l2sq_dist(V.fp16_decode(V.fp16_encode(c("embedding"))),
        q16) <= 1.5)
      .select(c("vec_id")).collect().map(_.getLong(0)).toSet
    assert(expect.nonEmpty)
    val ranged = post("/collections/f16_range/search",
      s"""{"vector":[$vec],"radius":1.5}""")
    assert(ranged.statusCode() === 200, ranged.body())
    assert("\"id\":(\\d+)".r.findAllMatchIn(ranged.body())
      .map(_.group(1).toLong).toSet === expect)
    val mmr = post("/collections/f16_range/search",
      s"""{"vector":[$vec],"k":5,"mmr_lambda":0.5}""")
    assert(mmr.statusCode() === 200, mmr.body())
    assert("\"rank\":5".r.findFirstIn(mmr.body()).isDefined, mmr.body())
  }

  test("POST /index 400s when the collection carries a reserved " +
      "artifact column — a 'bits' source column would make a plain " +
      "index be served as bq and then 500 on search") {
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .selectExpr("vec_id", "embedding", "CAST(label AS BIGINT) AS bits")
      .createOrReplaceTempView("bitscol_vecs")
    for (quant <- Seq("f32", "bq")) {
      val r = post("/collections/bitscol_vecs/index",
        s"""{"n_cells":4,"quantization":"$quant"}""")
      assert(r.statusCode() === 400, s"$quant: ${r.body()}")
      assert(r.body().contains("reserved"), r.body())
    }
  }

  test("malformed numeric parameters get 400, not 500") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_badnum_api")
    for (bad <- Seq("\"abc\"", "\"1e\"", "\"\"")) {
      val r = post("/collections/docs_badnum_api/dedup",
        s"""{"tau":$bad}""")
      assert(r.statusCode() === 400, s"tau=$bad → ${r.statusCode()}")
      assert(r.body().contains("tau must be a number"))
    }
    assert(post("/collections/embeddings/pq",
      """{"clusters":"abc"}""").statusCode() === 400)
  }

  test("POST /collections/{name}/containment finds the excerpt pair, " +
      "directed; bad params get 400") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima"
    Seq((1L, base), (2L, "alpha bravo charlie delta echo"),
        (3L, "other words entirely different here"))
      .toDF("doc_id", "text")
      .createOrReplaceTempView("docs_cont_api")
    val r = post("/collections/docs_cont_api/containment",
      """{"tau":0.8,"limit":10}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"i\":2,\"j\":1")) // excerpt → container
    assert(!r.body().contains("\"i\":1,\"j\":2")) // not the reverse
    assert(post("/collections/docs_cont_api/containment",
      """{"tau":"abc"}""").statusCode() === 400)
    assert(post("/collections/docs_cont_api/containment",
      """{"limit":0}""").statusCode() === 400)
    assert(post("/collections/docs_cont_api/containment",
      """{"text_column":"nope"}""").statusCode() === 400)
  }

  test("POST /lsh_tune returns the full factorization grid; bad " +
      "params get 400") {
    val r = post("/lsh_tune", """{"threshold":0.5,"num_hashes":128}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"rows\":2,\"bands\":64"))
    assert("\"rows\":".r.findAllIn(r.body()).size === 8) // divisors of 128
    assert(post("/lsh_tune", """{"threshold":1.5}""").statusCode() === 400)
    assert(post("/lsh_tune", """{"threshold":"x"}""").statusCode() === 400)
    assert(post("/lsh_tune", """{"num_hashes":0}""").statusCode() === 400)
  }

  test("POST /collections/{name}/compact rewrites the index files; " +
      "search results unchanged; 404 without an index") {
    // a dedicated collection with its own fresh index
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("vecs_compact_api")
    assert(post("/collections/vecs_compact_api/compact", "{}")
      .statusCode() === 404) // no index yet
    assert(post("/collections/vecs_compact_api/index",
      """{"n_cells":8}""").statusCode() === 201)
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    val before = post("/collections/vecs_compact_api/search",
      s"""{"vector":[$vec],"k":5}""").body()
    // observability: per-cell stats drive the compact decision
    val st = get("/collections/vecs_compact_api/index/stats")
    assert(st.statusCode() === 200)
    assert(st.body().contains("\"n_rows\"") &&
      st.body().contains("\"n_files\""))
    val c = post("/collections/vecs_compact_api/compact", "{}")
    assert(c.statusCode() === 200)
    assert(c.body().contains("\"files_before\""))
    val after = post("/collections/vecs_compact_api/search",
      s"""{"vector":[$vec],"k":5}""").body()
    assert(after === before)
    assert(get("/collections/embeddings_nope/index/stats")
      .statusCode() === 404)
  }

  test("search with radius returns every in-range neighbor (index and " +
      "brute-force paths agree); bad radius gets 400") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("vecs_range_api")
    // brute-force path (no index on this collection)
    val brute = post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":1.5}""")
    assert(brute.statusCode() === 200)
    val bruteIds = "\"id\":(\\d+)".r.findAllMatchIn(brute.body())
      .map(_.group(1).toLong).toSet
    assert(bruteIds.nonEmpty)
    // indexed path must return the same set at full probe
    assert(post("/collections/vecs_range_api/index",
      """{"n_cells":8}""").statusCode() === 201)
    val idx = post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":1.5}""")
    val idxIds = "\"id\":(\\d+)".r.findAllMatchIn(idx.body())
      .map(_.group(1).toLong).toSet
    assert(idxIds === bruteIds)
    // results are distance-filtered, not top-k-truncated
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet").count()
    assert(bruteIds.size < all)
    assert(post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":-1}""").statusCode() === 400)
    assert(post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":"x"}""").statusCode() === 400)
    assert(post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":1.5,"mmr_lambda":0.5}""")
      .statusCode() === 400)
    assert(post("/collections/vecs_range_api/search",
      s"""{"vector":[$vec],"radius":1.5,"limit":0}""")
      .statusCode() === 400)
  }

  test("summary lifecycle over REST: register -> rewrite serves -> " +
      "stats shows chunk debt -> compact folds it -> delete uninstalls") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_api")
    // bad requests first: missing arrays, non-column dims
    assert(post("/collections/li_mv_api/summary", "{}").statusCode()
      === 400)
    assert(post("/collections/li_mv_api/summary",
      """{"dims":["nope"],"measures":["l_quantity"]}""").statusCode()
      === 400)
    val reg = post("/collections/li_mv_api/summary",
      """{"dims":["l_returnflag","l_shipdate"],"measures":["l_quantity"]}""")
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"chunks\":1"))
    // the installed rewrite serves base queries from the rollup
    val q = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("graft_http_summary")),
      s"rewrite not installed, scanned $scans")
    // plant chunk debt the way the maintenance stream does, at the
    // same dir the endpoint derived (a non-empty delta batch)
    val sumDir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_http_summary_${java.lang.ProcessHandle.current().pid()}_li_mv_api"
    graft.streaming.SummaryStream.processBatch(
      spark.read.parquet(s"$sf0001/lineitem.parquet")
        .where(col("l_linenumber") === 1).limit(5), 7L,
      sumDir, Seq("l_returnflag", "l_shipdate"), Seq("l_quantity"))
    // rollup-served answer with the delta chunk in place — the fold
    // must preserve it bit for bit
    val served = q.orderBy(col("l_returnflag")).collect().map(_.toSeq)
    val stats = get("/collections/li_mv_api/summary/stats")
    assert(stats.statusCode() === 200)
    assert(stats.body().contains("\"n_chunks\":2"), stats.body())
    assert(stats.body().contains("\"dims\":[\"l_returnflag\"," +
      "\"l_shipdate\"]"))
    val comp = post("/collections/li_mv_api/summary/compact", "{}")
    assert(comp.statusCode() === 200, comp.body())
    assert(comp.body().contains("\"chunks_before\":2"))
    val statsAfter = get("/collections/li_mv_api/summary/stats")
    assert(statsAfter.body().contains("\"n_chunks\":1"), statsAfter.body())
    // identical answers after the fold
    val after = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq)
    assert(after.toSeq === served.toSeq)
    // delete uninstalls the rewrite
    assert(delete("/collections/li_mv_api/summary").statusCode() === 200)
    assert(get("/collections/li_mv_api/summary/stats").statusCode()
      === 404)
    val bare = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val bareScans = bare.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(bareScans.exists(_.contains("lineitem")),
      s"rewrite survived delete: $bareScans")
  }

  test("summary sketch measures over REST: register with hll_keys + " +
      "histograms, serve distinct estimates and quantiles; params 400") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_sk")
    val reg = post("/collections/li_mv_sk/summary",
      """{"dims":["l_returnflag"],"measures":["l_quantity"],
        |"hll_keys":["l_orderkey"],
        |"histograms":["l_quantity:1:51:50"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"sketches\":1") &&
      reg.body().contains("\"histograms\":1"), reg.body())
    // distinct estimate per returnflag, sane vs the exact count
    val d = post("/collections/li_mv_sk/summary/distinct",
      """{"key":"l_orderkey","dims":["l_returnflag"]}""")
    assert(d.statusCode() === 200, d.body())
    val ests = "\"est_distinct\":(\\d+)".r.findAllMatchIn(d.body())
      .map(_.group(1).toLong).toSeq
    assert(ests.size === 3)
    import org.apache.spark.sql.functions.countDistinct
    val exacts = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey")).orderBy("l_returnflag")
      .collect().map(_.getLong(1))
    ests.sorted.zip(exacts.sorted).foreach { case (e, x) =>
      assert(math.abs(e.toDouble / x - 1.0) < 0.25, s"est $e exact $x")
    }
    // quantiles per returnflag: p50 of TPC-H quantity (1..50) ~ 25
    val qr = post("/collections/li_mv_sk/summary/quantile",
      """{"col":"l_quantity","qs":[0.5],"dims":["l_returnflag"]}""")
    assert(qr.statusCode() === 200, qr.body())
    val p50s = "\"p50\":([0-9.]+)".r.findAllMatchIn(qr.body())
      .map(_.group(1).toDouble).toSeq
    assert(p50s.size === 3 && p50s.forall(v => v > 20 && v < 31),
      qr.body())
    // guards: unknown sketch key / hist col / bad qs / bad descriptor
    assert(post("/collections/li_mv_sk/summary/distinct",
      """{"key":"nope"}""").statusCode() === 400)
    assert(post("/collections/li_mv_sk/summary/quantile",
      """{"col":"nope"}""").statusCode() === 400)
    assert(post("/collections/li_mv_sk/summary/quantile",
      """{"col":"l_quantity","qs":[1.5]}""").statusCode() === 400)
    assert(post("/collections/li_mv_sk/summary",
      """{"dims":["l_returnflag"],"measures":["l_quantity"],
        |"histograms":["l_quantity:abc"]}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(delete("/collections/li_mv_sk/summary").statusCode() === 200)
  }

  test("summary expression measures over REST: register with " +
      "expr_measures (the advise output format) -> rewrite serves the " +
      "derived aggregate from the rollup; malformed exprs 400") {
    import org.apache.spark.sql.functions.{col, expr}
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_em")
    // malformed entries first: no name, unparseable sql, non-column ref
    assert(post("/collections/li_mv_em/summary",
      """{"dims":["l_returnflag"],"expr_measures":["no_colon_here"]}""")
      .statusCode() === 400)
    assert(post("/collections/li_mv_em/summary",
      """{"dims":["l_returnflag"],"expr_measures":["rev:(((("]}""")
      .statusCode() === 400)
    assert(post("/collections/li_mv_em/summary",
      """{"dims":["l_returnflag"],"expr_measures":["rev:nope * 2"]}""")
      .statusCode() === 400)
    // the TPC-H Q1 shape, registered exactly as /summary/advise emits
    val reg = post("/collections/li_mv_em/summary",
      """{"dims":["l_returnflag"],"measures":["l_quantity"],
        |"expr_measures":["revenue:l_extendedprice * (1 - l_discount)"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"exprs\":1"), reg.body())
    assert(get("/collections/li_mv_em/summary/stats").body()
      .contains("\"exprs\":[\"revenue\"]"))
    // the installed rewrite serves the derived aggregate from the
    // rollup, and the served values match the base scan exactly
    val base = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val q = base.groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.sum(
        expr("l_extendedprice * (1 - l_discount)")).as("rev"))
      .orderBy(col("l_returnflag"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("graft_http_summary")),
      s"expr-measure rewrite not installed, scanned $scans")
    val served = q.collect().map(_.toSeq)
    assert(delete("/collections/li_mv_em/summary").statusCode() === 200)
    val raw = base.groupBy(col("l_returnflag"))
      .agg(org.apache.spark.sql.functions.sum(
        expr("l_extendedprice * (1 - l_discount)")).as("rev"))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq)
    assert(served.toSeq === raw.toSeq)
  }

  test("summary HDR + CMS sketches over REST: register with hdr_cols " +
      "+ cms_keys, serve relative-error quantiles and per-key " +
      "frequency estimates; params 400") {
    spark.read.parquet(s"$sf0001/events.parquet")
      .createOrReplaceTempView("ev_mv_hc")
    val reg = post("/collections/ev_mv_hc/summary",
      """{"dims":["event_type"],"measures":["value"],
        |"hdr_cols":["user_id"],"cms_keys":["user_id"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"hdrs\":1") &&
      reg.body().contains("\"cms\":1"), reg.body())
    // global hdr p50 of user_id within 2^-5 relative of the exact
    val qr = post("/collections/ev_mv_hc/summary/hdrquantile",
      """{"col":"user_id","qs":[0.5]}""")
    assert(qr.statusCode() === 200, qr.body())
    val p50 = "\"p50\":(\\d+)".r.findFirstMatchIn(qr.body())
      .get.group(1).toLong
    val ids = spark.read.parquet(s"$sf0001/events.parquet")
      .where("user_id IS NOT NULL")
      .select("user_id").collect().map(_.getLong(0)).sorted
    val exact = ids((0.5 * ids.length).ceil.toInt - 1)
    assert(p50 <= exact && exact - p50 <= math.max(1L, exact >> 5),
      s"p50=$p50 exact=$exact")
    // per-key frequency: one-sided and near-exact at 4x512
    val someKey = ids.head
    val exactCnt = ids.count(_ == someKey).toLong
    val fr = post("/collections/ev_mv_hc/summary/freq",
      s"""{"key":"user_id","values":[$someKey]}""")
    assert(fr.statusCode() === 200, fr.body())
    val est = "\"est\":(\\d+)".r.findFirstMatchIn(fr.body())
      .get.group(1).toLong
    assert(est >= exactCnt && est <= exactCnt + 50,
      s"est=$est exact=$exactCnt")
    // guards: unknown cols, bad qs, missing values, bad params
    assert(post("/collections/ev_mv_hc/summary/hdrquantile",
      """{"col":"nope"}""").statusCode() === 400)
    assert(post("/collections/ev_mv_hc/summary/hdrquantile",
      """{"col":"user_id","qs":[0]}""").statusCode() === 400)
    assert(post("/collections/ev_mv_hc/summary/freq",
      """{"key":"nope","values":[1]}""").statusCode() === 400)
    assert(post("/collections/ev_mv_hc/summary/freq",
      """{"key":"user_id"}""").statusCode() === 400)
    assert(post("/collections/ev_mv_hc/summary",
      """{"dims":["event_type"],"measures":["value"],
        |"hdr_cols":["user_id"],"hdr_p":99}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(post("/collections/ev_mv_hc/summary",
      """{"dims":["event_type"],"measures":["value"],
        |"cms_keys":["user_id"],"cms_w":1}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(delete("/collections/ev_mv_hc/summary").statusCode() === 200)
  }

  test("summary freq reads its keys as integers: 16777217 is answered " +
      "as itself, a fraction or an out-of-range number is a 400 naming " +
      "values") {
    spark.read.parquet(s"$sf0001/events.parquet")
      .createOrReplaceTempView("ev_mv_keys")
    assert(post("/collections/ev_mv_keys/summary",
      """{"dims":["event_type"],"measures":["value"],
        |"cms_keys":["user_id"]}""".stripMargin.replace("\n", ""))
      .statusCode() === 200)
    try {
      // 2^24 + 1 has no float: read through one it became 2^24
      val fr = post("/collections/ev_mv_keys/summary/freq",
        """{"key":"user_id","values":[16777217]}""")
      assert(fr.statusCode() === 200, fr.body())
      assert(fr.body().contains("\"user_id\":16777217"), fr.body())
      assert(!fr.body().contains("16777216"), fr.body())
      for (bad <- Seq("1.5", "9223372036854775808", "1e3")) {
        val r = post("/collections/ev_mv_keys/summary/freq",
          s"""{"key":"user_id","values":[7,$bad]}""")
        assert(r.statusCode() === 400, s"$bad: ${r.body()}")
        assert(r.body().contains("values"), r.body())
      }
    } finally delete("/collections/ev_mv_keys/summary")
  }

  test("summary delete lifecycles over REST: sample quantiles serve " +
      "deterministically, retract nets sums and flips stats, chunk " +
      "delete drops a batch") {
    import org.apache.spark.sql.functions.{col, count, expr, lit, max,
      min, sum}
    val ordPath = s"$sf0001/orders.parquet"
    spark.read.parquet(ordPath).createOrReplaceTempView("ord_mv_del")
    val reg = post("/collections/ord_mv_del/summary",
      """{"dims":["o_orderstatus"],
        |"measures":["o_totalprice","o_custkey"],"refresh":true,
        |"sample_cols":["o_totalprice:o_orderkey"],"sample_k":64}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"samples\":1"), reg.body())
    // malformed sample_cols entry is a 400, not a silent drop
    assert(post("/collections/ord_mv_del/summary",
      """{"dims":["o_orderstatus"],"measures":["o_totalprice"],
        |"sample_cols":["o_totalprice"]}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    // sample quantiles: 3 status groups, saturated k=64, and the read
    // is DETERMINISTIC — two calls byte-match
    val sq = post("/collections/ord_mv_del/summary/samplequantile",
      """{"col":"o_totalprice","qs":[0.5,1.0],"dims":["o_orderstatus"]}""")
    assert(sq.statusCode() === 200, sq.body())
    assert("\"n_sample\":64".r.findAllIn(sq.body()).size === 3,
      sq.body())
    val mx = spark.read.parquet(ordPath).agg(max(col("o_totalprice")))
      .head().getDouble(0)
    val p100s = "\"p100\":([0-9.E]+)".r.findAllMatchIn(sq.body())
      .map(_.group(1).toDouble).toSeq
    assert(p100s.size === 3 && p100s.forall(_ <= mx), sq.body())
    val sq2 = post("/collections/ord_mv_del/summary/samplequantile",
      """{"col":"o_totalprice","qs":[0.5,1.0],"dims":["o_orderstatus"]}""")
    assert(sq2.body() === sq.body(), "sample reads must be deterministic")
    assert(post("/collections/ord_mv_del/summary/samplequantile",
      """{"col":"nope","qs":[0.5]}""").statusCode() === 400)
    // retract a row-level delete: sums/counts serve NET values from
    // the rollup; stats flips retracted; min/max falls back to base
    val r = post("/collections/ord_mv_del/summary/retract",
      """{"where":"o_orderkey % 10 = 0","chunk":-2}""")
    assert(r.statusCode() === 200, r.body())
    val stats = get("/collections/ord_mv_del/summary/stats")
    assert(stats.body().contains("\"retracted\":true"), stats.body())
    assert(stats.body().contains("\"rule\":{\"fired\":"), stats.body())
    def scansOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
    val net = spark.read.parquet(ordPath).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sc"))
      .orderBy(col("o_orderstatus"))
    assert(scansOf(net).exists(_.contains("graft_http_summary")),
      "sum family must keep serving under retraction")
    val want = spark.read.parquet(ordPath)
      .where(expr("o_orderkey % 10 <> 0"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_custkey")).as("sc"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(net.collect().toSeq === want,
      "served sums must net out the retracted rows")
    val mnq = spark.read.parquet(ordPath).groupBy(col("o_orderstatus"))
      .agg(min(col("o_totalprice")).as("lo"))
    assert(!scansOf(mnq).exists(_.contains("graft_http_summary")),
      "min/max must fall back to base under retraction")
    // bad predicate is a 400, not a 500
    assert(post("/collections/ord_mv_del/summary/retract",
      """{"where":"NOT A PREDICATE ((","chunk":-3}""").statusCode()
      === 400)
    // retention: plant a delta batch, then expire it over REST
    val sumDir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_http_summary_${java.lang.ProcessHandle.current().pid()}_ord_mv_del"
    graft.streaming.SummaryStream.processBatch(
      spark.read.parquet(ordPath).limit(7), 9L, sumDir,
      Seq("o_orderstatus"), Seq("o_totalprice", "o_custkey"),
      sketches = Seq(graft.plans.SummaryRewrite.SampleQSpec(
        "o_orderkey", "o_totalprice", 64)))
    assert(get("/collections/ord_mv_del/summary/stats").body()
      .contains("\"chunk\":9"))
    assert(delete("/collections/ord_mv_del/summary/chunk/9")
      .statusCode() === 200)
    assert(!get("/collections/ord_mv_del/summary/stats").body()
      .contains("\"chunk\":9"))
    assert(delete("/collections/ord_mv_del/summary/chunk/99")
      .statusCode() === 404)
    assert(delete("/collections/ord_mv_del/summary").statusCode()
      === 200)
  }

  test("summary advisor over REST: a SQL workload is analyzed (never " +
      "executed) into a costed registration; guards 400") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_adv")
    // guards: empty workload, broken SQL
    assert(post("/collections/li_mv_adv/summary/advise", "{}")
      .statusCode() === 400)
    assert(post("/collections/li_mv_adv/summary/advise",
      """{"queries":["SELECT FROM nope"]}""").statusCode() === 400)
    val r = post("/collections/li_mv_adv/summary/advise",
      """{"queries":[
        |"SELECT l_returnflag, sum(l_quantity) FROM li_mv_adv GROUP BY 1",
        |"SELECT count(DISTINCT l_orderkey) FROM li_mv_adv",
        |"SELECT l_returnflag, sum(l_quantity * 2) FROM li_mv_adv GROUP BY 1"
        |]}""".stripMargin.replace("\n", ""))
    assert(r.statusCode() === 200, r.body())
    assert(r.body().contains(""""dims":["l_returnflag"]"""), r.body())
    assert(r.body().contains(""""measures":["l_quantity"]"""), r.body())
    assert(r.body().contains(""""hll_keys":["l_orderkey"]"""), r.body())
    assert(r.body().contains(""""fact_rows":6000"""), r.body())
    assert(r.body().contains(""""rollup_rows":3"""), r.body())
    // the derived input sum(l_quantity * 2) is recommended as an
    // EXPRESSION measure and counts as servable
    assert(r.body().contains(""""servable":3,"total":3"""), r.body())
    assert(r.body().contains(""""expr_measures":["""), r.body())
    assert("\"expr_measures\":\\[\"[^\"]*l_quantity[^\"]*\"\\]".r
      .findFirstIn(r.body()).isDefined, r.body())
    // the advisory call is side-effect free: no summary registered yet
    assert(get("/collections/li_mv_adv/summary/stats").statusCode()
      === 404)
    // {"apply":true} registers the recommendation in the same call —
    // the one-round-trip observe → advise → serve loop
    val ap = post("/collections/li_mv_adv/summary/advise",
      """{"apply":true,"queries":[
        |"SELECT l_returnflag, sum(l_quantity) FROM li_mv_adv GROUP BY 1",
        |"SELECT l_returnflag, sum(l_quantity * 2) FROM li_mv_adv GROUP BY 1"
        |]}""".stripMargin.replace("\n", ""))
    assert(ap.statusCode() === 200, ap.body())
    assert(ap.body().contains(""""applied":true"""), ap.body())
    assert(get("/collections/li_mv_adv/summary/stats").statusCode()
      === 200)
    // the registered rollup (incl. the expression measure) serves
    import org.apache.spark.sql.functions.{col, expr, sum => ssum}
    val q = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(ssum(expr("l_quantity * 2")).as("s2"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("graft_http_summary")),
      s"applied recommendation not serving, scanned $scans")
    val served = q.orderBy(col("l_returnflag")).collect().map(_.toSeq)
    assert(delete("/collections/li_mv_adv/summary").statusCode() === 200)
    val raw = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(ssum(expr("l_quantity * 2")).as("s2"))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq)
    assert(served.toSeq === raw.toSeq)
  }

  test("advise {apply:true} over a distinct workload registers the " +
      "HLL sketch that /summary/distinct serves") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_dst")
    val ap = post("/collections/li_mv_dst/summary/advise",
      """{"apply":true,"queries":[
        |"SELECT l_returnflag, sum(l_quantity) FROM li_mv_dst GROUP BY 1",
        |"SELECT count(DISTINCT l_orderkey) FROM li_mv_dst"
        |]}""".stripMargin.replace("\n", ""))
    assert(ap.statusCode() === 200, ap.body())
    assert(ap.body().contains(""""applied":true"""), ap.body())
    val d = post("/collections/li_mv_dst/summary/distinct",
      """{"key":"l_orderkey"}""")
    assert(d.statusCode() === 200, d.body())
    val sumDir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_http_summary_${java.lang.ProcessHandle.current().pid()}_li_mv_dst"
    val want = graft.plans.SummaryRewrite.approxDistinct(spark, sumDir,
      Nil, "l_orderkey").collect().head.getLong(0)
    assert(d.body() === s"""{"results":[{"est_distinct":$want}]}""")
    assert(delete("/collections/li_mv_dst/summary").statusCode() === 200)
  }

  test("advise rejects command statements (never executes the " +
      "workload) and serves the CAPTURED workload over REST") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_cap")
    // a mutation smuggled into the workload array must be REJECTED at
    // parse time — spark.sql would have eagerly executed it
    val evil = post("/collections/li_mv_cap/summary/advise",
      """{"queries":["DROP VIEW li_mv_cap"]}""")
    assert(evil.statusCode() === 400, evil.body())
    assert(evil.body().contains("command"), evil.body())
    assert(spark.catalog.tableExists("li_mv_cap"), "the DROP ran!")
    val evil2 = post("/collections/li_mv_cap/summary/advise",
      """{"queries":["INSERT OVERWRITE DIRECTORY '/tmp/graft_evil' """ +
        """USING parquet SELECT 1"]}""")
    assert(evil2.statusCode() === 400, evil2.body())
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get("/tmp/graft_evil")), "the INSERT ran!")
    // capture lifecycle: start, run live traffic, advise from it
    assert(post("/capture/start", "").statusCode() === 200)
    spark.sql("SELECT l_returnflag, sum(l_quantity) AS s " +
      "FROM li_mv_cap GROUP BY 1").collect()
    spark.sql("SELECT l_linestatus, count(*) AS n " +
      "FROM li_mv_cap GROUP BY 1").collect()
    // listener delivery is asynchronous
    var tries = 0
    while (graft.plans.SummaryAdvisor.capturedCount < 2 &&
        tries < 100) { Thread.sleep(50); tries += 1 }
    val st = get("/capture")
    assert(st.statusCode() === 200 &&
      st.body().contains("\"active\":true"), st.body())
    val r = post("/collections/li_mv_cap/summary/advise",
      """{"captured":true}""")
    assert(r.statusCode() === 200, r.body())
    assert(r.body().contains(
      """"dims":["l_linestatus","l_returnflag"]"""), r.body())
    assert(r.body().contains(""""measures":["l_quantity"]"""),
      r.body())
    assert(post("/capture/stop", "").statusCode() === 200)
    assert(delete("/capture").statusCode() === 200)
    val st2 = get("/capture")
    assert(st2.body().contains("\"active\":false") &&
      st2.body().contains("\"captured\":0"), st2.body())
  }

  test("summary frequent-items over REST: register with items, serve " +
      "top-k per dim exactly at capacity >= vocab; guards 400") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf0001/orders.parquet")
      .createOrReplaceTempView("ord_mv_it")
    // capacity 64 >> the 5-value o_orderpriority vocab => exact counts
    val reg = post("/collections/ord_mv_it/summary",
      """{"dims":["o_orderstatus"],"measures":["o_totalprice"],
        |"items":["o_orderpriority:64"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"items\":1"), reg.body())
    val r = post("/collections/ord_mv_it/summary/topitems",
      """{"col":"o_orderpriority","k":2,"dims":["o_orderstatus"]}""")
    assert(r.statusCode() === 200, r.body())
    // exact top-2 per status from the raw table
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    val expect = spark.read.parquet(s"$sf0001/orders.parquet")
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 2)
      .collect().map(x => (x.getString(0), x.getInt(3),
        x.getString(1), x.getLong(2))).toSet
    val got = ("""\{"o_orderstatus":"([^"]+)","rank":(\d+),""" +
      """"item":"([^"]+)","est":(\d+)\}""").r
      .findAllMatchIn(r.body())
      .map(m => (m.group(1), m.group(2).toInt, m.group(3),
        m.group(4).toLong)).toSet
    assert(got === expect, r.body())
    // guards: unregistered col, bad k, bad descriptor
    assert(post("/collections/ord_mv_it/summary/topitems",
      """{"col":"nope"}""").statusCode() === 400)
    assert(post("/collections/ord_mv_it/summary/topitems",
      """{"col":"o_orderpriority","k":0}""").statusCode() === 400)
    assert(post("/collections/ord_mv_it/summary",
      """{"dims":["o_orderstatus"],"measures":["o_totalprice"],
        |"items":["o_orderpriority:0"]}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(delete("/collections/ord_mv_it/summary").statusCode() === 200)
  }

  test("summary KMV overlap over REST: register with kmv_keys, serve " +
      "exact pairwise distinct overlap of dim groups; guards 400") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf0001/orders.parquet")
      .createOrReplaceTempView("ord_mv_kmv")
    // k=2048 > every per-status distinct custkey count at sf0.001 =>
    // the sketches are exact hash sets and overlap reads are exact
    val reg = post("/collections/ord_mv_kmv/summary",
      """{"dims":["o_orderstatus"],"measures":["o_totalprice"],
        |"kmv_keys":["o_custkey"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"kmvs\":1"), reg.body())
    val r = post("/collections/ord_mv_kmv/summary/overlap",
      """{"key":"o_custkey","dims":["o_orderstatus"]}""")
    assert(r.statusCode() === 200, r.body())
    // exact pairwise overlap from the raw table
    val u = spark.read.parquet(s"$sf0001/orders.parquet")
      .select(col("o_orderstatus").as("s"), col("o_custkey").as("c"))
      .distinct().collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val expect = (for {
      a <- u.keys; b <- u.keys if a < b
    } yield (a, b, u(a).size.toLong, u(b).size.toLong,
      (u(a) & u(b)).size.toLong)).toSet
    val got = ("""\{"o_orderstatus_a":"([^"]+)",""" +
      """"o_orderstatus_b":"([^"]+)","est_a":(\d+),"est_b":(\d+),""" +
      """"est_common":(\d+),"jaccard":[0-9.]+\}""").r
      .findAllMatchIn(r.body())
      .map(m => (m.group(1), m.group(2), m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong)).toSet
    assert(got === expect, r.body())
    // guards: unregistered key, missing dims, bad k at registration
    assert(post("/collections/ord_mv_kmv/summary/overlap",
      """{"key":"nope","dims":["o_orderstatus"]}""").statusCode() === 400)
    assert(post("/collections/ord_mv_kmv/summary/overlap",
      """{"key":"o_custkey"}""").statusCode() === 400)
    assert(post("/collections/ord_mv_kmv/summary",
      """{"dims":["o_orderstatus"],"measures":["o_totalprice"],
        |"kmv_keys":["o_custkey"],"kmv_k":"1"}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(delete("/collections/ord_mv_kmv/summary").statusCode() === 200)
  }

  test("summary centroid over REST: register with vec_cols, serve " +
      "per-label embedding centroids from the rollup; guards 400") {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("emb_mv_vec")
    val reg = post("/collections/emb_mv_vec/summary",
      """{"dims":["label"],"measures":["vec_id"],
        |"vec_cols":["embedding"]}"""
        .stripMargin.replace("\n", ""))
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"vecs\":1"), reg.body())
    val r = post("/collections/emb_mv_vec/summary/centroid",
      """{"col":"embedding","dims":["label"]}""")
    assert(r.statusCode() === 200, r.body())
    // every label group appears with its row count and a full-width
    // centroid; spot-check one group's first coordinate against the
    // raw table mean
    val raw = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(col("embedding").isNotNull)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        avg(element_at(col("embedding"), 1)).as("c0"))
      .collect().map(x => (x.getInt(0), x.getLong(1), x.getDouble(2)))
    val pat = """\{"label":(\d+),"n":(\d+),"centroid":\[([^\]]+)\]\}""".r
    val got = pat.findAllMatchIn(r.body()).map(m =>
      (m.group(1).toInt, m.group(2).toLong,
        m.group(3).split(",").head.toDouble)).toList
    assert(got.size === raw.length, r.body().take(300))
    raw.foreach { case (lbl, n, c0) =>
      val g = got.find(_._1 == lbl).get
      assert(g._2 === n)
      assert(math.abs(g._3 - c0) < 1e-6, s"label $lbl: ${g._3} vs $c0")
    }
    // global (no dims) centroid serves one row
    val g = post("/collections/emb_mv_vec/summary/centroid",
      """{"col":"embedding"}""")
    assert(g.statusCode() === 200, g.body())
    assert("\"n\":(\\d+)".r.findAllMatchIn(g.body()).size === 1)
    // guards: unregistered col, non-dim dims
    assert(post("/collections/emb_mv_vec/summary/centroid",
      """{"col":"nope","dims":["label"]}""").statusCode() === 400)
    assert(post("/collections/emb_mv_vec/summary/centroid",
      """{"col":"embedding","dims":["vec_id"]}""").statusCode() === 400)
    assert(delete("/collections/emb_mv_vec/summary").statusCode() === 200)
  }

  test("OpenAPI doc at / and /openapi.json enumerates every route; " +
      "oversized request bodies get 413 before any handler runs") {
    val doc = get("/openapi.json")
    assert(doc.statusCode() === 200)
    assert(doc.body().contains("\"openapi\":\"3.0.3\""))
    for (p <- Seq("/collections", "/collections/{name}/search",
        "/collections/{name}/summary", "/collections/{name}/index",
        "/lsh_tune"))
      assert(doc.body().contains("\"" + p + "\""), s"missing $p")
    assert(get("/").body() === doc.body())
    // request-size limit (reference http_server/mod.rs:153-157)
    val tiny = new HttpApi(spark, maxBodyBytes = 64).start()
    try {
      val tbase = s"http://localhost:${tiny.boundPort}"
      val big = "{\"vector\":[" + Seq.fill(200)("0.125").mkString(",") +
        "]}"
      val r = client.send(
        HttpRequest.newBuilder(URI.create(
            tbase + "/collections/embeddings/search"))
          .POST(HttpRequest.BodyPublishers.ofString(big)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 413, r.body())
      val small = client.send(
        HttpRequest.newBuilder(URI.create(tbase + "/collections"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(small.statusCode() === 200)
    } finally tiny.stop()
  }

  test("POST /checks validates data contracts from compact specs") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_checks_api")
    spark.read.parquet(s"$sf0001/orders.parquet")
      .createOrReplaceTempView("ord_checks_api")
    val r = post("/collections/li_checks_api/checks",
      """{"checks":["not_null:l_orderkey",
        |"range:l_quantity:1:50",
        |"in_set:l_returnflag:A|N|R",
        |"satisfies:disc:l_discount >= 0 AND l_discount <= 0.1",
        |"ref_in:l_orderkey:ord_checks_api:o_orderkey"]}"""
        .stripMargin.replace("\n", ""))
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"check\":\"not_null(l_orderkey)\""))
    assert(r.body().contains("\"check\":\"ref_in(l_orderkey)\""))
    // the synthetic lineitem has full referential integrity and no
    // null keys: those two checks pass with zero violations
    assert(r.body().contains(
      "\"check\":\"not_null(l_orderkey)\",\"total\":6000," +
        "\"violations\":0,\"pass\":true"))

    // bad specs are a 400, not a 500
    assert(post("/collections/li_checks_api/checks",
      """{"checks":["frobnicate:x"]}""").statusCode() === 400)
    assert(post("/collections/li_checks_api/checks",
      """{"checks":["ref_in:l_orderkey:no_such_tbl:x"]}""")
      .statusCode() === 400)
    assert(post("/collections/li_checks_api/checks",
      """{"checks":["not_null:no_such_col"]}""").statusCode() === 400)
    assert(post("/collections/li_checks_api/checks",
      """{}""").statusCode() === 400)
  }

  test("POST /profile reports per-column stats, exact and approx") {
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_prof_api")
    val r = post("/collections/li_prof_api/profile",
      """{"columns":["l_returnflag","l_orderkey"]}""")
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"column\":\"l_returnflag\"") &&
      r.body().contains("\"n_distinct\":3") &&
      r.body().contains("\"min\":\"A\"") &&
      r.body().contains("\"max\":\"R\""))
    val ra = post("/collections/li_prof_api/profile",
      """{"columns":["l_returnflag"],"approx_distinct":true}""")
    assert(ra.statusCode() === 200)
    assert(post("/collections/li_prof_api/profile",
      """{"columns":["nope"]}""").statusCode() === 400)
  }

  test("POST /resample fills an hourly grid over REST") {
    spark.read.parquet(s"$sf0001/events.parquet")
      .where("user_id < 3")
      .selectExpr("user_id", "ts",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      .createOrReplaceTempView("ev_rs_api")
    val r = post("/collections/ev_rs_api/resample",
      """{"key_column":"user_id","ts_column":"ts",
        |"value_column":"cents","step_sec":3600,"limit":50}"""
        .stripMargin.replace("\n", ""))
    assert(r.statusCode() === 200)
    assert(r.body().contains("\"observed\":true"))
    assert(r.body().contains("\"bucket\":"))
    assert(post("/collections/ev_rs_api/resample",
      """{"key_column":"user_id","ts_column":"ts",
        |"value_column":"cents","step_sec":0}"""
        .stripMargin.replace("\n", "")).statusCode() === 400)
    assert(post("/collections/ev_rs_api/resample",
      """{"key_column":"nope","ts_column":"ts","value_column":"cents"}""")
      .statusCode() === 400)
  }

  test("POST /graph runs pagerank, ppr, hits, triangles and degree " +
      "over an edge collection") {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst").createOrReplaceTempView("edges_api")
    val pr = post("/collections/edges_api/graph",
      """{"op":"pagerank","iters":1,"top":3}""")
    assert(pr.statusCode() === 200)
    // hand recurrence from GraphOpsSpec: C leads with 1425000
    assert(pr.body().contains("\"node\":3,\"rank\":1425000"))
    val ppr = post("/collections/edges_api/graph",
      """{"op":"ppr","iters":1,"seeds":[1]}""")
    assert(ppr.statusCode() === 200)
    val hits = post("/collections/edges_api/graph",
      """{"op":"hits","iters":1}""")
    assert(hits.statusCode() === 200)
    assert(hits.body().contains("\"auth\":1000000"))
    val tri = post("/collections/edges_api/graph",
      """{"op":"triangles","top":5}""")
    assert(tri.statusCode() === 200)
    assert(tri.body().contains("\"tri\":1"))
    val deg = post("/collections/edges_api/graph",
      """{"op":"degree","top":5}""")
    assert(deg.statusCode() === 200)
    assert(deg.body().contains("\"outdeg\":2"))
    assert(post("/collections/edges_api/graph",
      """{"op":"ppr","iters":1}""").statusCode() === 400)
    assert(post("/collections/edges_api/graph",
      """{"op":"nope"}""").statusCode() === 400)
    assert(post("/collections/edges_api/graph",
      """{"op":"pagerank","iters":0}""").statusCode() === 400)
  }

  test("POST /graph runs pagerank_weighted, kcore and label_prop; " +
      "null edges are dropped, not a 500") {
    import spark.implicits._
    Seq((Some(1L), Some(2L), 3L), (Some(1L), Some(3L), 1L),
        (Some(2L), Some(3L), 2L), (Some(3L), Some(1L), 1L),
        (None, Some(9L), 5L), (Some(9L), None, 5L))
      .toDF("src", "dst", "w").createOrReplaceTempView("edges_w_api")
    val wpr = post("/collections/edges_w_api/graph",
      """{"op":"pagerank_weighted","weight_column":"w","iters":1}""")
    assert(wpr.statusCode() === 200)
    // null-endpoint edges dropped: node 9 never appears
    assert(!wpr.body().contains("\"node\":9"))
    assert(wpr.body().contains("\"rank\":"))
    assert(post("/collections/edges_w_api/graph",
      """{"op":"pagerank_weighted","iters":1}""").statusCode() === 400)
    val kc = post("/collections/edges_w_api/graph",
      """{"op":"kcore","k":2,"iters":2}""")
    assert(kc.statusCode() === 200)
    // the 1-2-3 triangle is the 2-core; every member keeps degree 2
    assert(kc.body().contains("\"deg\":2"))
    assert(!kc.body().contains("\"node\":9"))
    assert(post("/collections/edges_w_api/graph",
      """{"op":"kcore","k":0}""").statusCode() === 400)
    val lp = post("/collections/edges_w_api/graph",
      """{"op":"label_prop","iters":2}""")
    assert(lp.statusCode() === 200)
    assert(lp.body().contains("\"communities\":["))
    assert(lp.body().contains("\"size\":"))
    val mo = post("/collections/edges_w_api/graph",
      """{"op":"modularity","iters":2}""")
    assert(mo.statusCode() === 200)
    assert(mo.body().contains("\"q_ppm\":"))
    val kh = post("/collections/edges_w_api/graph",
      """{"op":"khop","iters":2,"seeds":[1]}""")
    assert(kh.statusCode() === 200)
    assert(kh.body().contains("\"node\":1,\"hop\":0"))
    assert(post("/collections/edges_w_api/graph",
      """{"op":"khop","iters":2}""").statusCode() === 400)
  }

  test("basic auth: wrong or missing credentials get 401 + challenge, " +
      "correct ones pass (reference http_server/mod.rs:62-75)") {
    val secured = new HttpApi(spark, auth = Some(("alice", "s3cret")))
      .start()
    try {
      val sbase = s"http://localhost:${secured.boundPort}"
      def getAuth(header: Option[String]): HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(sbase + "/collections"))
          .GET()
        header.foreach(h => b.header("Authorization", h))
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      def basic(u: String, p: String): String =
        "Basic " + java.util.Base64.getEncoder.encodeToString(
          s"$u:$p".getBytes("UTF-8"))

      val denied = getAuth(None)
      assert(denied.statusCode() === 401)
      assert(denied.headers().firstValue("WWW-Authenticate").isPresent)

      assert(getAuth(Some(basic("alice", "wrong"))).statusCode() === 401)
      assert(getAuth(Some(basic("mallory", "s3cret"))).statusCode() === 401)
      assert(getAuth(Some("Bearer nope")).statusCode() === 401)

      val ok = getAuth(Some(basic("alice", "s3cret")))
      assert(ok.statusCode() === 200)
      assert(ok.body().contains("\"embeddings\""))
    } finally secured.stop()
  }

  /** Send every body concurrently, one thread each, released together;
    * returns the responses in body order.
    */
  private def postAll(path: String, bodies: Seq[String])
      : Seq[HttpResponse[String]] = {
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      bodies.size)
    try {
      val futures = bodies.map(b => pool.submit(
        (() => { go.await(); post(path, b) })
          : java.util.concurrent.Callable[HttpResponse[String]]))
      go.countDown()
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  private def concurrencyCollection(name: String): Unit = {
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView(name)
    assert(post(s"/collections/$name/index", """{"n_cells":8}""")
      .statusCode() === 201)
  }

  private def vecBody(seed: Int, extra: String = ""): String = {
    val r = new scala.util.Random(seed)
    val vec = Seq.fill(64)(f"${r.nextFloat() * 0.2f}%.4f").mkString(",")
    s"""{"vector":[$vec],"k":5,"nprobe":2$extra}"""
  }

  test("concurrent searches answer byte-identically to the same " +
      "requests sent serially") {
    concurrencyCollection("conc_vecs")
    val bodies = Seq(vecBody(1), vecBody(2), vecBody(3), vecBody(4),
      """{"text":"fast key order scan","model":"hash/bow-64","k":5}""",
      """{"text":"table scan","k":4,"nprobe":3}""",
      vecBody(5, ""","filter_column":"label","filter_value":"3""""),
      vecBody(6, ""","filter_column":"label","filter_value":"1""""))
    val serial = bodies.map(b => post("/collections/conc_vecs/search", b))
    assert(serial.forall(_.statusCode() === 200),
      serial.map(_.body()).mkString("\n"))
    val parallel = postAll("/collections/conc_vecs/search", bodies)
    assert(parallel.map(_.statusCode()) === serial.map(_.statusCode()))
    assert(parallel.map(_.body()) === serial.map(_.body()))
  }

  test("a write route waits for in-flight searches: every search " +
      "answers 200 against the old or the new index") {
    concurrencyCollection("conc_write")
    // the same rows without an index: its answers are what the
    // collection serves once its index is dropped
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("conc_write_brute")
    val bodies = (1 to 8).map(vecBody(_))
    val indexed = bodies.map(b =>
      post("/collections/conc_write/search", b).body())
    val brute = bodies.map(b =>
      post("/collections/conc_write_brute/search", b).body())

    def searchesDuring(write: => HttpResponse[String])
        : (HttpResponse[String], Seq[HttpResponse[String]]) = {
      val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
      try {
        val searches = pool.submit(
          (() => postAll("/collections/conc_write/search",
            bodies ++ bodies))
            : java.util.concurrent.Callable[Seq[HttpResponse[String]]])
        Thread.sleep(50)
        val w = write
        (w, searches.get(120, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
    }

    // compaction deletes the files a concurrent search would be reading
    val (compact, during) = searchesDuring(
      post("/collections/conc_write/compact", "{}"))
    assert(compact.statusCode() === 200, compact.body())
    assert(during.map(_.statusCode()).toSet === Set(200),
      during.map(_.body()).mkString("\n"))
    assert(during.map(_.body()) === indexed ++ indexed)

    val (dropped, around) = searchesDuring(
      delete("/collections/conc_write/index"))
    assert(dropped.statusCode() === 200, dropped.body())
    assert(around.map(_.statusCode()).toSet === Set(200),
      around.map(_.body()).mkString("\n"))
    around.zip(bodies.indices ++ bodies.indices).foreach { case (r, i) =>
      assert(r.body() === indexed(i) || r.body() === brute(i),
        s"request $i answered neither index: ${r.body()}")
    }
  }

  test("stop() shuts the handler pool down: no pool thread stays alive") {
    import scala.jdk.CollectionConverters._
    val own = new HttpApi(spark).start()
    val prefix = s"graft-http-${own.boundPort}-"
    val threads = try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${own.boundPort}/collections"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      Thread.getAllStackTraces.keySet.asScala
        .filter(_.getName.startsWith(prefix)).toSeq
    } finally own.stop()
    assert(threads.nonEmpty, "the request ran on no pool thread")
    threads.foreach(_.join(10000))
    assert(threads.forall(!_.isAlive),
      s"alive after stop(): ${threads.filter(_.isAlive).map(_.getName)}")
  }

  test("search_text and search_hybrid answer 400 on a malformed or " +
      "non-positive k") {
    spark.read.parquet(s"$sf0001/documents.parquet")
      .createOrReplaceTempView("docs_k_api")
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    for (k <- Seq("\"abc\"", "0", "-2")) {
      val t = post("/collections/docs_k_api/search_text",
        s"""{"query":"table scan","k":$k}""")
      assert(t.statusCode() === 400, s"search_text k=$k: ${t.body()}")
      val h = post("/collections/docs_k_api/search_hybrid",
        s"""{"query":"table scan","vector":[$vec],"k":$k,""" +
          """"vector_collection":"embeddings","vector_id_column":"vec_id"}""")
      assert(h.statusCode() === 400, s"search_hybrid k=$k: ${h.body()}")
    }
    assert(post("/collections/docs_k_api/search_text",
      """{"query":"table scan","k":2}""").statusCode() === 200)
  }

  test("POST /resample honors a bare JSON boolean interpolate flag") {
    spark.sql("""SELECT * FROM VALUES
      |(1L, TIMESTAMP'2024-01-01 00:00:00', 100L),
      |(1L, TIMESTAMP'2024-01-01 02:00:00', 300L)
      |AS t(user_id, ts, cents)""".stripMargin)
      .createOrReplaceTempView("ev_gap_api")
    def gap(interpolate: Boolean): Any = {
      val r = post("/collections/ev_gap_api/resample",
        """{"key_column":"user_id","ts_column":"ts",""" +
          """"value_column":"cents","step_sec":3600,""" +
          s""""interpolate":$interpolate}""")
      assert(r.statusCode() === 200, r.body())
      val rows = MiniJson.arr(MiniJson.obj(MiniJson.parse(r.body()))("rows"))
        .map(MiniJson.obj)
      assert(rows.size === 3, r.body())
      val filled = rows.filter(_("observed") == false)
      assert(filled.size === 1, r.body())
      filled.head("value")
    }
    // linear interpolation fills the middle hour; LOCF carries 100
    assert(gap(interpolate = true) === MiniJson.Num("200"))
    assert(gap(interpolate = false) === MiniJson.Num("100"))
  }

  test("summary expr_measures entries may contain commas and brackets") {
    import org.apache.spark.sql.functions.{col, expr, sum}
    spark.read.parquet(s"$sf0001/lineitem.parquet")
      .createOrReplaceTempView("li_mv_comma")
    val reg = post("/collections/li_mv_comma/summary",
      """{"dims":["l_returnflag"],"expr_measures":""" +
        """["rev:coalesce(l_extendedprice, 0) * (1 - l_discount)"]}""")
    assert(reg.statusCode() === 200, reg.body())
    assert(reg.body().contains("\"exprs\":1"), reg.body())
    def q = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("coalesce(l_extendedprice, 0) * (1 - l_discount)"))
        .as("rev"))
      .orderBy(col("l_returnflag"))
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("graft_http_summary")),
      s"expr-measure rewrite not installed, scanned $scans")
    val served = q.collect().map(_.toSeq).toSeq
    assert(delete("/collections/li_mv_comma/summary").statusCode() === 200)
    assert(served === q.collect().map(_.toSeq).toSeq)
    // an entry with a bracket arrives whole: the parser rejects it as
    // one expression, not as a fragment cut at the first ']'
    val cut = post("/collections/li_mv_comma/summary",
      """{"dims":["l_returnflag"],"expr_measures":["f:element_at(arr[1])"]}""")
    assert(cut.statusCode() === 400)
    assert(cut.body().contains("references 'arr'"), cut.body())
  }

  test("error bodies stay valid JSON for any path segment or name") {
    for (path <- Seq("/collections/a%22b", "/collections/a%5Cb",
        "/collections/a%22b/index/stats", "/collections/a%22b/summary/stats")) {
      val r = get(path)
      assert(r.statusCode() === 404, path)
      val err = MiniJson.fields(r.body()).str("error")
      assert(err.exists(e => e.contains("a\"b") || e.contains("a\\b")),
        r.body())
    }
    assert(MiniJson.parse(get("/collections").body())
      .isInstanceOf[Vector[_]])
  }

  test("request bodies are parsed as JSON: nesting, escapes, malformed " +
      "input, duplicate keys, wrong types and deep nesting") {
    val vec = (1 to 64).map(_ => "0.1").mkString(",")
    // a nested "k" does not shadow the top-level one
    val nested = post("/collections/embeddings/search",
      s"""{"vector":[$vec],"filter":{"k":50},"k":5}""")
    assert(nested.statusCode() === 200, nested.body())
    assert("\"rank\":".r.findAllIn(nested.body()).size === 5, nested.body())
    // escapes decode before the identifier check: a\"b is refused as a
    // name, and an escaped underscore is an ordinary identifier
    val quoted = post("/collections", """{"name":"a\"b"}""")
    assert(quoted.statusCode() === 400)
    assert(quoted.body() === """{"error":"need a valid \"name\""}""")
    assert(post("/collections", "{\"name\":\"api_esc\\u005fname\"}")
      .statusCode() === 201)
    assert(get("/collections/api_esc_name").statusCode() === 200)
    assert(delete("/collections/api_esc_name").statusCode() === 200)
    def error(body: String): String = {
      val r = post("/collections/embeddings/search", body)
      assert(r.statusCode() === 400, s"$body -> ${r.body()}")
      MiniJson.fields(r.body()).str("error").get
    }
    assert(error(s"""{"vector":[$vec],"k":5""").contains("expected"))
    assert(error(s"""{"vector":[$vec],"k":5,"k":6}""")
      .contains("duplicate key \"k\""))
    assert(error(s"""{"vector":[$vec],"k":[5]}""") ===
      "k must be an integer")
    assert(error(s"""{"vector":"$vec"}""") ===
      "vector must be an array of numbers")
    val deep = "[" * 100 + "]" * 100
    assert(error(s"""{"vector":[$vec],"x":$deep}""").contains("nested"))
    assert(error("[1]") === "expected a JSON object")
    // an empty body reads as {} (search then needs a vector)
    assert(error("") === "need \"vector\" or \"text\"")
  }
}
