package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VecsFiles

/** Gate faces for the file-format readers (SURVEY S1-S3): the vecs
  * decode path was ScalaTest-only; this registers it against the
  * DuckDB oracle by round-tripping a bounded fixture slice of the
  * embeddings table through a REAL `.fvecs` artifact and decoding it
  * back with the record-aligned split reader. The split size is forced
  * far below the file size so the gate exercises the multi-split path
  * (~17 splits at 256 × 64-float records), not a single whole-file
  * read — the shape that matters at SIFT1B scale.
  */
object SourceQueries {
  private implicit class ColName(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  private val FixtureRows = 256

  // per-JVM (PID-keyed, same convention as IvfIndex's tmp indexes):
  // concurrent gate/bench/verify runs (separate JVMs) cannot clobber
  // each other's sink or read a stale one. The oracle SQL names the
  // pid through PidPlaceholder, so every dump of one commit is the
  // same bytes; Verify, whose JVM wrote the sinks, resolves it
  // ([[resolveSinks]]) in the oracle_sql.json it writes
  private val PidPlaceholder = "<pid>"
  private val pid = java.lang.ProcessHandle.current().pid().toString
  private def csvSink(pid: String) = s"/tmp/graft_csv_sink_$pid"
  private def jsonlSink(pid: String) = s"/tmp/graft_jsonl_sink_$pid"

  /** `sql` with the sink paths naming this JVM's sinks. */
  def resolveSinks(sql: String): String = sql.replace(PidPlaceholder, pid)

  /** Bounded fixture slice (FixtureRows vectors, a model-sized collect
    * like the PQ codebook, NOT corpus-sized), in vec_id order so
    * record index == vec_id rank.
    */
  private def fixtureVecs(s: SparkSession, dir: String)
      : Seq[Array[Float]] = {
    val emb = Tables(s, dir, "embeddings")
    emb.where($"vec_id" < FixtureRows).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray).toSeq
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fvecs_decode" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_fvecs")
      val file = tmp.resolve("fixture.fvecs").toString
      VecsFiles.writeFvecs(file, fixtureVecs(s, dir))
      VecsFiles.readFvecs(s, file, splitBytes = 4096)
        .select($"idx", posexplode($"vector"))
        .toDF("idx", "pos", "val")
    }),

    // S2: ints derived as floor(x*1000) — exact double arithmetic both
    // engines restate — written as a real .ivecs file, decoded back
    // through the same multi-split reader (I32 element path).
    "q_ivecs_decode" -> ((s, dir) => {
      val ints = fixtureVecs(s, dir)
        .map(_.map(x => math.floor(x.toDouble * 1000).toInt))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivecs")
      val file = tmp.resolve("fixture.ivecs").toString
      VecsFiles.writeIvecs(file, ints)
      VecsFiles.readIvecs(s, file, splitBytes = 4096)
        .select($"idx", posexplode($"vector"))
        .toDF("idx", "pos", "val")
    }),

    // S9: the CSV embedding sink, verified CROSS-ENGINE — Spark writes
    // the reference's `id,"{v1,...,vn}"` format (embeddings/mod.rs:
    // 386-415) to a fixed path and emits the source values; the DuckDB
    // oracle independently parses that CSV back to floats. A hash
    // match proves the textual encoding round-trips exactly (Java
    // shortest-repr float printing ↔ DuckDB correctly-rounded parse).
    "q_csv_sink" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
        .where($"vec_id" < FixtureRows)
        .select($"vec_id", $"embedding")
      VecsFiles.writeCsvEmbeddings(emb, "vec_id", "embedding",
        csvSink(pid))
      emb.select($"vec_id", posexplode($"embedding"))
        .toDF("vec_id", "pos", "val")
    }),

    // Training-shard export: documents written as size-bounded JSONL
    // shards (maxRecordsPerFile caps each shard — the distributed
    // idiom for "shard the corpus into N-record files"), verified
    // CROSS-ENGINE: DuckDB independently parses the written shards
    // back and must reproduce every row of the source exactly —
    // JSON string escaping round-trips through two parsers.
    "q_jsonl_sink" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select($"doc_id", $"source", $"text")
      docs.write.mode("overwrite")
        .option("maxRecordsPerFile", 100)
        .json(jsonlSink(pid))
      docs
    }),

    // S3: u8 = floor(x*1000) mod 256, written as .bvecs, decoded back
    // through the U8 path (which widens to SMALLINT, dotvecs.rs:65-83).
    "q_bvecs_decode" -> ((s, dir) => {
      val bytes = fixtureVecs(s, dir)
        .map(_.map(x => (math.floor(x.toDouble * 1000).toInt & 0xff)
          .toByte))
      val tmp = java.nio.file.Files.createTempDirectory("graft_bvecs")
      val file = tmp.resolve("fixture.bvecs").toString
      VecsFiles.writeBvecs(file, bytes)
      VecsFiles.readBvecs(s, file, splitBytes = 1024)
        .select($"idx", posexplode($"vector"))
        .toDF("idx", "pos", "val")
    })
  )

  val oracleSql: Map[String, String] = Map(
    // float32 survives the fvecs round-trip bit-exactly, so the oracle
    // is simply the same slice of the parquet table, exploded; two
    // unnests in one SELECT zip pairwise in DuckDB
    "q_fvecs_decode" ->
      s"""SELECT idx, CAST(unnest(range(0, len(embedding))) AS INT) AS pos,
         |  unnest(embedding) AS val
         |FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |    AS idx, embedding
         |  FROM embeddings WHERE vec_id < $FixtureRows) _e
         |ORDER BY idx, pos""".stripMargin,

    "q_ivecs_decode" ->
      s"""SELECT idx, CAST(unnest(range(0, len(embedding))) AS INT) AS pos,
         |  CAST(unnest(list_transform(embedding,
         |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS INT))) AS INT)
         |    AS val
         |FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |    AS idx, embedding
         |  FROM embeddings WHERE vec_id < $FixtureRows) _e
         |ORDER BY idx, pos""".stripMargin,

    // independent parse of the sink's actual bytes: strip the braces,
    // split on commas, correctly-rounded text→REAL per element
    "q_csv_sink" ->
      s"""SELECT CAST(column0 AS BIGINT) AS vec_id,
         |  CAST(unnest(range(0, len(p))) AS INT) AS pos,
         |  CAST(unnest(list_transform(p, x -> CAST(x AS REAL))) AS REAL)
         |    AS val
         |FROM (
         |  SELECT column0,
         |    string_split(substr(column1, 2, length(column1) - 2), ',')
         |      AS p
         |  FROM read_csv('${csvSink(PidPlaceholder)}/*.csv', header=false,
         |    columns={'column0': 'BIGINT', 'column1': 'VARCHAR'})) _c
         |ORDER BY vec_id, pos""".stripMargin,

    // independent parse of the written shards: every row must come
    // back exactly through DuckDB's JSON reader
    "q_jsonl_sink" ->
      s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
         |  CAST(source AS VARCHAR) AS source, CAST(text AS VARCHAR) AS text
         |FROM read_json('${jsonlSink(PidPlaceholder)}/*.json',
         |  format='newline_delimited',
         |  columns={'doc_id': 'BIGINT', 'source': 'VARCHAR',
         |           'text': 'VARCHAR'})
         |ORDER BY doc_id""".stripMargin,

    // two's-complement & 0xff == ((v % 256) + 256) % 256 on the int
    "q_bvecs_decode" ->
      s"""SELECT idx, CAST(unnest(range(0, len(embedding))) AS INT) AS pos,
         |  CAST(unnest(list_transform(embedding,
         |    x -> ((CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) % 256)
         |      + 256) % 256)) AS SMALLINT) AS val
         |FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT)
         |    AS idx, embedding
         |  FROM embeddings WHERE vec_id < $FixtureRows) _e
         |ORDER BY idx, pos""".stripMargin
  )
}
