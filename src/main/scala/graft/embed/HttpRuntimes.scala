package graft.embed

import graft.util.Json

/** Pluggable HTTP transport so the API runtimes are testable without
  * egress (this container has none) and swappable for a real client in
  * production. `post` returns the response body or throws.
  */
trait HttpTransport extends Serializable {
  def post(url: String, headers: Map[String, String], body: String): String
}

object HttpTransport {
  /** Default transport for a zero-egress environment. */
  val none: HttpTransport = new HttpTransport {
    override def post(url: String, headers: Map[String, String],
        body: String): String =
      throw new java.io.IOException(s"no network egress (POST $url)")
  }

  /** Retry wrapper: 5 attempts, linear 4 s backoff
    * (`embeddings/core/utils.rs:81-125`). Sleep injectable for tests.
    */
  def withRetry(t: HttpTransport, attempts: Int = 5, backoffMs: Long = 4000,
      sleep: Long => Unit = Thread.sleep): HttpTransport =
    new HttpTransport {
      override def post(url: String, headers: Map[String, String],
          body: String): String = {
        var last: Throwable = null
        var i = 0
        while (i < attempts) {
          try return t.post(url, headers, body)
          catch {
            case e: Throwable =>
              last = e
              i += 1
              if (i < attempts) sleep(backoffMs)
          }
        }
        throw last
      }
    }
}

/** Reads the embedding API responses through [[graft.util.MiniJson]]. */
private[embed] object ApiResponse {
  import graft.util.MiniJson

  private def vector(v: Any): Array[Float] =
    MiniJson.arr(v).map(x => java.lang.Float.parseFloat(
      x.asInstanceOf[MiniJson.Num].text)).toArray

  /** OpenAI: `data[*].embedding`, in `index` order (position when an
    * item carries no index).
    */
  def openAi(body: String): Seq[Array[Float]] =
    MiniJson.arr(MiniJson.obj(MiniJson.parse(body))("data"))
      .map(MiniJson.obj).zipWithIndex
      .sortBy { case (item, i) =>
        item.get("index").fold(i.toLong)(MiniJson.long) }
      .map { case (item, _) => vector(item("embedding")) }

  /** Cohere: `embeddings`, one vector per input. */
  def cohere(body: String): Seq[Array[Float]] =
    MiniJson.arr(MiniJson.obj(MiniJson.parse(body))("embeddings")).map(vector)
}

/** OpenAI embeddings API runtime (F2, `lantern_extras/src/embeddings.rs:
  * 39-106`; `openai_runtime.rs`): inputs truncated at 8190 tokens, then
  * greedily packed into requests whose total stays under the same budget
  * (`openai_runtime.rs:48-70,179-247`).
  */
class OpenAiEmbeddingRuntime(transport: HttpTransport,
    baseUrl: String = "https://api.openai.com",
    apiKey: String = "", maxTokens: Int = 8190)
  extends EmbeddingRuntime {
  override def name: String = "openai"
  override def dimOf(model: String): Int = ModelRegistry(model).dim

  private val http = HttpTransport.withRetry(transport)

  // Real cl100k BPE when a ranks file is configured
  // (-Dgraft.tiktoken.path); regex stand-in otherwise. The reference
  // tokenizes OpenAI inputs with cl100k_base (`openai_runtime.rs:48-70`).
  // Each input is tokenized ONCE: truncateWithCount returns the cut
  // text plus its token count, and packing/usage reuse that count
  // (bytePairMerge dominates the hot path — no re-encoding).
  private def bpe: Option[BpeTokenizer] = BpeTokenizer.configured()
  private def prepare(s: String): (String, Int) = bpe match {
    case Some(t) => t.truncateWithCount(s, maxTokens)
    case None =>
      val cut = Tokenizer.truncate(s, maxTokens)
      (cut, Tokenizer.countTokens(cut))
  }

  override def process(model: String, inputs: Seq[String])
      : EmbeddingResult = {
    val apiModel = model.stripPrefix("openai/")
    val prepared = inputs.map(prepare)
    // greedy packing under the token budget on the precomputed counts
    val groups = Seq.newBuilder[Seq[(String, Int)]]
    var cur = Seq.newBuilder[(String, Int)]
    var curTokens = 0L
    var curEmpty = true
    prepared.foreach { case (in, t) =>
      if (!curEmpty && curTokens + t > maxTokens) {
        groups += cur.result(); cur = Seq.newBuilder[(String, Int)]
        curTokens = 0; curEmpty = true
      }
      cur += ((in, t)); curTokens += t; curEmpty = false
    }
    if (!curEmpty) groups += cur.result()
    var tokens = 0L
    val embs = Seq.newBuilder[Array[Float]]
    groups.result().foreach { groupWithCounts =>
      val group = groupWithCounts.map(_._1)
      tokens += groupWithCounts.map(_._2.toLong).sum
      val body = s"""{"model":${Json.quote(apiModel)},"input":${Json.strArray(group)}}"""
      val resp = http.post(s"$baseUrl/v1/embeddings",
        Map("Authorization" -> s"Bearer $apiKey",
          "Content-Type" -> "application/json"), body)
      embs ++= ApiResponse.openAi(resp)
    }
    val result = embs.result()
    require(result.size == inputs.size,
      s"API returned ${result.size} embeddings for ${inputs.size} inputs")
    EmbeddingResult(result, tokens)
  }
}

/** Cohere embeddings API runtime (F3, `embeddings.rs:108-132`): fixed
  * 96-input request chunks (`cohere_runtime.rs:139,170-189`).
  */
class CohereEmbeddingRuntime(transport: HttpTransport,
    baseUrl: String = "https://api.cohere.ai",
    apiKey: String = "", inputType: String = "search_query",
    chunkSize: Int = 96)
  extends EmbeddingRuntime {
  override def name: String = "cohere"
  override def dimOf(model: String): Int = ModelRegistry(model).dim

  private val http = HttpTransport.withRetry(transport)

  override def process(model: String, inputs: Seq[String])
      : EmbeddingResult = {
    val apiModel = model.stripPrefix("cohere/")
    var tokens = 0L
    val embs = Seq.newBuilder[Array[Float]]
    inputs.grouped(chunkSize).foreach { group =>
      tokens += group.map(Tokenizer.countTokens(_).toLong).sum
      val body = s"""{"model":${Json.quote(apiModel)},"input_type":${Json.quote(inputType)},"texts":${Json.strArray(group)}}"""
      val resp = http.post(s"$baseUrl/v1/embed",
        Map("Authorization" -> s"Bearer $apiKey",
          "Content-Type" -> "application/json"), body)
      embs ++= ApiResponse.cohere(resp)
    }
    val result = embs.result()
    require(result.size == inputs.size,
      s"API returned ${result.size} embeddings for ${inputs.size} inputs")
    EmbeddingResult(result, tokens)
  }
}
