package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{EmbeddingPipeline, HashEmbeddingRuntime}
import graft.functions.{VectorFunctions => V}
import graft.operators.{Dedup, Knn}

/** Embedding-pipeline coverage (SURVEY §2.8 F1-F8, §3.1-3.2, A5 usage
  * metering, and the §2.12 search path) using the deterministic hash
  * runtime (no network in this environment; ONNX/API runtimes share the
  * identical pipeline code and are fake-transport-tested).
  */
object EmbedQueries {
  private implicit class ColName(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  private def embeddedDocs(s: SparkSession, dir: String): DataFrame =
    EmbeddingPipeline.embedColumn(
      Tables(s, dir, "documents").select($"doc_id", $"lang", $"text"),
      "text", "emb", "hash/bow-64", HashEmbeddingRuntime)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §3.2 headline: add an embedding column to a table. Exploded to
    // (doc_id, pos, val) and floor-rounded to 4 decimals; the DuckDB
    // oracle restates the full hash model (FNV-1a token bases,
    // splitmix64 per dimension, ordered fold, 64-dim normalize) — see
    // embedDocsOracle.
    "q_embed_docs" -> ((s, dir) =>
      embeddedDocs(s, dir)
        .select($"doc_id", posexplode($"emb"))
        .toDF("doc_id", "pos", "val")
        .select($"doc_id", $"pos",
          (floor($"val".cast("double") * 10000 + 0.5) / 10000).as("val"))
        .orderBy($"doc_id", $"pos")),

    // A5: usage accounting — embeds, then aggregates the per-row token
    // counts the runtime reports. Oracle-checkable because the stand-in
    // tokenizer is the same regex the text-stats operator exposes.
    "q_embed_usage" -> ((s, dir) =>
      embeddedDocs(s, dir)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"emb_tokens").as("tokens"))
        .orderBy($"lang")),

    // Semantic recall check: every n-gram-Jaccard near-dup pair is
    // embedding-close (cos_dist <= 0.1; measured max over true pairs
    // is 0.075 at sf0.1, so the filter keeps ALL of them and the
    // oracle is the plain Jaccard pair set). Distances are computed
    // only for the candidate pairs — no O(n²) join.
    "q_embed_dup_recovery" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val emb = docs.select($"doc_id",
        graft.functions.TextFunctions.hash_embedding($"text", 64)
          .as("emb"))
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, tau = 0.5)
      pairs
        .join(emb.select($"doc_id".as("i"), $"emb".as("ea")), "i")
        .join(emb.select($"doc_id".as("j"), $"emb".as("eb")), "j")
        .where(graft.functions.VectorFunctions
          .cos_dist($"ea", $"eb") <= 0.1)
        .select($"i", $"j")
        .orderBy($"i", $"j")
    }),

    // §2.12 search path: embed a query text, brute-force top-k over the
    // embedded corpus; oracled end to end (embedSearchOracle recomputes
    // the corpus embeddings and the cos top-10 in DuckDB).
    "q_embed_search" -> ((s, dir) => {
      val corpus = embeddedDocs(s, dir).select($"doc_id", $"emb")
      val qvec = HashEmbeddingRuntime.embedOne(
        "the fast key order sort table scan", 64)
      val queries = s.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(0L, qvec)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("emb",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
      Knn.topK(corpus, queries, "doc_id", "emb", k = 10, "cos")
        .select($"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"rank")
    }),

    // Incremental re-embed: the prior run covered the even half; the
    // incremental pass reuses those vectors and embeds only the odd
    // half — and the combined output must be BIT-identical to a full
    // re-embed, which is exactly what the full-embed oracle checks.
    // This is the batch spelling of the CDC embed path: at 100 TB the
    // runtime bill is proportional to the changed slice, not the
    // corpus.
    "q_embed_incremental" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select($"doc_id", $"lang", $"text")
      val prior = EmbeddingPipeline.embedColumn(
        docs.where($"doc_id" % 2 === 0), "text", "emb",
        "hash/bow-64", HashEmbeddingRuntime)
      EmbeddingPipeline.embedColumnIncremental(docs, "doc_id", "text",
          "emb", "hash/bow-64", HashEmbeddingRuntime, prior)
        .select($"doc_id", posexplode($"emb"))
        .toDF("doc_id", "pos", "val")
        .select($"doc_id", $"pos",
          (floor($"val".cast("double") * 10000 + 0.5) / 10000).as("val"))
        .orderBy($"doc_id", $"pos")
    }),

    // Late-interaction retrieval (ColBERT-style MaxSim, Khattab &
    // Zaharia 2020, collapsed to chunk granularity): documents become
    // MULTI-vector — one embedding per chunk — and a query scores a
    // document as the SUM over its query aspects of the MAX chunk
    // similarity. This is the retrieval shape single-vector search
    // can't express: a long document about two topics matches a
    // two-aspect query even though its mean vector matches neither.
    // Deterministic end to end (hash model + fixed chunking), so the
    // oracle restates chunking, per-chunk embeddings, and the
    // max/sum scoring. Scale shape: chunk explode → codegen embed →
    // two bounded aggregations; query vectors are literals.
    "q_maxsim_search" -> ((s, dir) => {
      graft.GraftSession.register(s)
      Tables(s, dir, "documents").createOrReplaceTempView("documents")
      val chunks = s.sql(graft.operators.PipelineOps.chunkSql(
        graft.operators.TextAnalysis.SparkDialect))
      val emb = chunks.selectExpr("doc_id",
        "text_embedding('hash/bow-64', chunk_text) AS e")
      val sims = MaxSimQueryTexts.zipWithIndex.map { case (q, i) =>
        val qv = HashEmbeddingRuntime.embedOne(q, 64)
        emb.select($"doc_id", lit(i).as("qi"),
          (lit(1.0) - V.cos_dist($"e", typedlit(qv.toSeq))).as("sim"))
      }.reduce(_ unionByName _)
      val scores = sims.groupBy($"doc_id", $"qi")
        .agg(max($"sim").as("m"))
        .groupBy($"doc_id").agg(sum($"m").as("score"))
      import org.apache.spark.sql.expressions.Window
      scores.orderBy($"score".desc, $"doc_id").limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")).cast("int"))
        .select($"doc_id", $"rank", round($"score", 4).as("score"))
        .orderBy($"rank")
    }),

    // F1 SQL surface: text_embedding(model, text) as a SQL function.
    "q_text_embedding_sql" -> ((s, dir) => {
      graft.GraftSession.register(s)
      Tables(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id,
              | round(vector_norm(text_embedding('hash/bow-64', text)), 4) AS nrm
              |FROM documents ORDER BY doc_id""".stripMargin)
    })
  )

  // DuckDB restatement of HashEmbeddingRuntime.embedOne: FNV-1a token
  // bases (hex-decoded UTF-8 bytes, wrapping multiply via HUGEINT),
  // per-dimension splitmix64 with the 64 mix64(j) seeds precomputed as
  // literals, document-ordered double fold, fixed-order 64-dim
  // normalize, float projection. Output floor-rounds to 4 decimals on
  // both sides.
  private val hashEmbCtes: String = hashEmbCtesFor(
    """SELECT doc_id, text FROM documents
      |  WHERE text IS NOT NULL AND text != ''
      |    AND text != 'Error: Summary failed (llm)' AND trim(text) != ''"""
      .stripMargin)

  /** The hash-model CTE chain over an arbitrary `(doc_id, text)`
    * source relation — lets composed faces (chunk-level embeddings for
    * late-interaction retrieval) restate the SAME model over derived
    * rows keyed however they like.
    */
  private def hashEmbCtesFor(source: String): String = {
    val T = "18446744073709551616"
    val H = "9223372036854775808"
    def wrapOp(z: String, c: Long, op: String): String = {
      val m = s"((((CAST(($z) AS HUGEINT) $op ($c)) % $T) + $T) % $T)"
      s"CAST(CASE WHEN $m >= $H THEN $m - $T ELSE $m END AS BIGINT)"
    }
    def lshr(z: String, k: Int): String =
      s"((($z) >> $k) & ${(1L << (64 - k)) - 1})"
    val c1 = -7046029254386353131L // 0x9e3779b97f4a7c15 as signed
    val c2 = -4658895280553007687L // 0xbf58476d1ce4e5b9
    val c3 = -7723592293110705685L // 0x94d049bb133111eb
    val fnvStep = wrapOp("xor(a, b)", 0x100000001b3L, "*")
    val z1 = wrapOp("xor(base, kj)", c1, "+")
    val z2 = wrapOp(s"xor(z1, ${lshr("z1", 30)})", c2, "*")
    val z3 = wrapOp(s"xor(z2, ${lshr("z2", 27)})", c3, "*")
    val h = s"xor(z3, ${lshr("z3", 31)})"
    val kList = (0 until 64)
      .map(j => s"CAST(${graft.functions.TextHash.mix64(j.toLong)} AS BIGINT)")
      .mkString("[", ", ", "]")
    val pat = "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'"
    s"""WITH docs_f AS (
       |  $source),
       |toks AS (
       |  SELECT doc_id, unnest(range(1, len(rts)+1)) AS tpos,
       |         unnest(rts) AS tok
       |  FROM (SELECT doc_id, regexp_extract_all(text, $pat, 0) AS rts
       |        FROM docs_f)),
       |fnv AS (
       |  SELECT doc_id, tpos, list_reduce(
       |    list_prepend(CAST(${graft.functions.TextHash.FnvOffset} AS BIGINT),
       |      list_transform(range(1, octet_length(encode(tok))+1), i ->
       |        CAST(16*(instr('0123456789ABCDEF',
       |            substr(hex(encode(tok)), CAST(2*i-1 AS INT), 1))-1)
       |          + (instr('0123456789ABCDEF',
       |            substr(hex(encode(tok)), CAST(2*i AS INT), 1))-1)
       |          AS BIGINT))),
       |    (a, b) -> $fnvStep) AS base
       |  FROM toks),
       |jk AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS j,
       |              unnest($kList) AS kj),
       |m1 AS (SELECT doc_id, tpos, j, $z1 AS z1 FROM fnv, jk),
       |m2 AS (SELECT doc_id, tpos, j, $z2 AS z2 FROM m1),
       |m3 AS (SELECT doc_id, tpos, j, $z3 AS z3 FROM m2),
       |contrib AS (
       |  SELECT doc_id, tpos, j,
       |    CAST($h AS DOUBLE) / 9223372036854775807 AS c
       |  FROM m3),
       |acc AS (
       |  SELECT doc_id, j, list_sum(list(c ORDER BY tpos)) AS a
       |  FROM contrib GROUP BY doc_id, j),
       |nrm AS (
       |  SELECT doc_id,
       |    sqrt(list_sum(list_transform(list(a ORDER BY j), v -> v * v)))
       |      AS norm
       |  FROM acc GROUP BY doc_id)""".stripMargin
  }

  private val embedDocsOracle: String =
    s"""$hashEmbCtes
       |SELECT acc.doc_id, acc.j AS pos,
       |  floor(CAST(CAST(acc.a / nrm.norm AS REAL) AS DOUBLE) * 10000 + 0.5)
       |    / 10000 AS val
       |FROM acc JOIN nrm ON nrm.doc_id = acc.doc_id
       |ORDER BY acc.doc_id, pos""".stripMargin

  // §2.12 search path: the same hash-model CTEs produce each doc's
  // float embedding; the query vector (embedOne of the fixed query
  // text) is embedded as exact double literals; cos distance is the
  // dkCos index-ordered fold; top-10 by (dist, nid) matches
  // Knn.topK's deterministic tie-break.
  private val embedSearchOracle: String = {
    val qv = HashEmbeddingRuntime.embedOne(
      "the fast key order sort table scan", 64)
    val qvLit = qv.map(f => java.lang.Double.toString(f.toDouble))
      .mkString("[", ", ", "]")
    s"""$hashEmbCtes,
       |evec AS (
       |  SELECT acc.doc_id,
       |    list(CAST(acc.a / nrm.norm AS REAL) ORDER BY acc.j) AS e
       |  FROM acc JOIN nrm ON nrm.doc_id = acc.doc_id
       |  GROUP BY acc.doc_id),
       |cosd AS (
       |  SELECT doc_id AS nid,
       |    (1 - list_sum(list_transform(range(1, 65),
       |           i -> CAST(e[i] AS DOUBLE) * qv[i])) /
       |      sqrt(list_sum(list_transform(range(1, 65),
       |             i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE)))
       |        * list_sum(list_transform(range(1, 65),
       |             i -> qv[i] * qv[i])))) AS cd
       |  FROM evec, (SELECT $qvLit AS qv))
       |SELECT nid, CAST(row_number() OVER (ORDER BY cd, nid) AS INT)
       |    AS rank,
       |  round(cd, 4) AS dist
       |FROM cosd ORDER BY cd, nid LIMIT 10""".stripMargin
  }

  /** The two query "aspects" of the MaxSim face — fixed so both
    * engines embed them as literals.
    */
  private val MaxSimQueryTexts = Seq(
    "the fast key order sort table scan",
    "sum count group aggregate merge")

  // chunk-level restatement of the same hash model: the chunk relation
  // (chunkSql, DuckDB dialect) re-keyed as doc_id*10000+chunk_id feeds
  // the shared CTE chain; scoring = per (doc, aspect) max chunk
  // similarity, summed over aspects, top-10 by (score desc, doc_id).
  private val maxsimOracle: String = {
    val chunkSrc = graft.operators.PipelineOps.chunkSql(
      graft.operators.TextAnalysis.DuckDialect)
    val src = "SELECT doc_id * 10000 + chunk_id AS doc_id, " +
      s"chunk_text AS text FROM ($chunkSrc) _chunks"
    val qLits = MaxSimQueryTexts.map { q =>
      HashEmbeddingRuntime.embedOne(q, 64)
        .map(f => java.lang.Double.toString(f.toDouble))
        .mkString("[", ", ", "]")
    }
    val qv = qLits.zipWithIndex
      .map { case (l, i) => s"SELECT $i AS qi, $l AS qv" }
      .mkString(" UNION ALL ")
    s"""${hashEmbCtesFor(src)},
       |evec AS (
       |  SELECT acc.doc_id AS key,
       |    list(CAST(acc.a / nrm.norm AS REAL) ORDER BY acc.j) AS e
       |  FROM acc JOIN nrm ON nrm.doc_id = acc.doc_id
       |  GROUP BY acc.doc_id),
       |qv AS ($qv),
       |cosd AS (
       |  SELECT CAST(e.key // 10000 AS BIGINT) AS doc_id, q.qi,
       |    (1 - list_sum(list_transform(range(1, 65),
       |           i -> CAST(e.e[i] AS DOUBLE) * q.qv[i])) /
       |      sqrt(list_sum(list_transform(range(1, 65),
       |             i -> CAST(e.e[i] AS DOUBLE) * CAST(e.e[i] AS DOUBLE)))
       |        * list_sum(list_transform(range(1, 65),
       |             i -> q.qv[i] * q.qv[i])))) AS cd
       |  FROM evec e CROSS JOIN qv q),
       |ms AS (SELECT doc_id, qi, max(1 - cd) AS m
       |       FROM cosd GROUP BY doc_id, qi),
       |sc AS (SELECT doc_id, sum(m) AS score FROM ms GROUP BY doc_id)
       |SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
       |    AS rank,
       |  round(score, 4) AS score
       |FROM sc ORDER BY rank LIMIT 10""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_maxsim_search" -> maxsimOracle,
    // incremental reuse must be invisible: the full-re-embed oracle
    "q_embed_incremental" -> embedDocsOracle,
    "q_embed_docs" -> embedDocsOracle,
    "q_embed_search" -> embedSearchOracle,
    "q_embed_usage" ->
      """SELECT lang, count(*) AS n,
        | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))) AS BIGINT) AS tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_embed_dup_recovery" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j
        |FROM pairs JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
        |ORDER BY i, j""".stripMargin,
    // unit-normalized embeddings: norm is exactly 1 (float-rounded)
    "q_text_embedding_sql" ->
      "SELECT doc_id, 1.0 AS nrm FROM documents ORDER BY doc_id"
  )
}
