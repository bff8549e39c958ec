package graft.embed

import graft.SparkSuite
import org.apache.spark.sql.functions._

class EmbedSpec extends SparkSuite {
  import spark.implicits._

  test("hash embeddings are deterministic, unit-norm, token-sensitive") {
    val a = HashEmbeddingRuntime.embedOne("hello world", 64)
    val b = HashEmbeddingRuntime.embedOne("hello world", 64)
    assert(a.toSeq === b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    val c = HashEmbeddingRuntime.embedOne("hello there", 64)
    assert(a.toSeq !== c.toSeq)
    // shared tokens → positive similarity vs unrelated text
    def cos(x: Array[Float], y: Array[Float]) =
      x.zip(y).map { case (p, q) => p.toDouble * q }.sum
    val d = HashEmbeddingRuntime.embedOne("zzz qqq vvv", 64)
    assert(cos(a, c) > cos(a, d))
  }

  test("golden vectors pinned (FIXTURES §2): hash model is frozen") {
    // regenerated once and pinned; a change here silently alters every
    // rows-only embedding query the driver records
    val g1 = HashEmbeddingRuntime.embedOne("Hello world!", 8)
    assert(g1.toSeq === Seq(-0.06039507f, 0.43446168f, -0.031043006f,
      -0.3101359f, -0.032333005f, 0.76193416f, -0.3217519f, 0.15916702f))
    val g2 = HashEmbeddingRuntime.embedOne("the fast key order sort", 8)
    assert(g2.toSeq === Seq(-0.27732202f, 0.0323947f, -0.15320425f,
      0.09461525f, -0.7961406f, 0.42522684f, -0.08280902f, 0.2609683f))
  }

  test("empty/whitespace text yields the failed sentinel [-1 x dim]") {
    assert(HashEmbeddingRuntime.embedOne("", 8).toSeq ===
      Seq.fill(8)(-1.0f))
  }

  test("process counts tokens with the BPE-ish regex") {
    val r = HashEmbeddingRuntime.process("hash/bow-64",
      Seq("Hello world!", "a b c"))
    assert(r.embeddings.size === 2)
    assert(r.processedTokens === 3L + 3L) // Hello, world, ! / a, b, c
  }

  test("Tokenizer.truncate respects token budget") {
    val t = "one two three four five"
    assert(Tokenizer.truncate(t, 3) === "one two three")
    assert(Tokenizer.truncate(t, 99) === t)
  }

  test("groupByTokenBudget packs greedily") {
    val groups = Tokenizer.groupByTokenBudget(
      Seq("a b", "c d", "e f", "g"), budget = 4)
    assert(groups === Seq(Seq("a b", "c d"), Seq("e f", "g")))
  }

  test("pooling: cls / mean-with-mask / splade on a hand-built tensor") {
    // batch=1, seq=3, hidden=2
    val out = Array(Array(
      Array(1.0f, -2.0f), Array(3.0f, 4.0f), Array(100.0f, 100.0f)))
    val mask = Array(Array(1, 1, 0)) // last position padded
    assert(Pooling.cls(out).head.toSeq === Seq(1.0f, -2.0f))
    assert(Pooling.meanWithMask(out, mask).head.toSeq === Seq(2.0f, 1.0f))
    val sp = Pooling.spladeReluLogMax(out, mask).head
    assert(math.abs(sp(0) - math.log1p(3.0)) < 1e-6) // max(relu) = 3
    assert(math.abs(sp(1) - math.log1p(4.0)) < 1e-6)
  }

  test("embedColumn adds embeddings, skips unusable rows in place") {
    val df = Seq(
      (1L, "good text"),
      (2L, ""),
      (3L, "Error: Summary failed (llm)"),
      (4L, "more good text")
    ).toDF("id", "text")
    val out = EmbeddingPipeline.embedColumn(df, "text", "emb",
      "hash/bow-64", HashEmbeddingRuntime, batchSize = 2)
    val rows = out.orderBy($"id").collect()
    assert(rows.length === 4)
    assert(!rows(0).isNullAt(2) && rows(0).getLong(3) === 2L)
    assert(rows(1).isNullAt(2) && rows(1).getLong(3) === 0L)
    assert(rows(2).isNullAt(2))
    assert(!rows(3).isNullAt(2))
  }

  test("embedColumnIncremental: unchanged rows never reach the " +
      "runtime; changed and new rows do; output equals a full embed") {
    val acc = spark.sparkContext.longAccumulator("inc_embed_calls")
    class Counting(a: org.apache.spark.util.LongAccumulator)
        extends EmbeddingRuntime {
      def name: String = "counting"
      def process(model: String, inputs: Seq[String]): EmbeddingResult = {
        a.add(inputs.size); HashEmbeddingRuntime.process(model, inputs)
      }
      def dimOf(model: String): Int = HashEmbeddingRuntime.dimOf(model)
    }
    val counting = new Counting(acc)
    val v1 = Seq((0L, "alpha one"), (1L, "beta two"), (2L, "gamma three"),
      (3L, "delta four")).toDF("id", "text")
    val prior = EmbeddingPipeline.embedColumn(v1, "text", "emb",
      "hash/bow-64", HashEmbeddingRuntime)
      .persist()
    prior.count()
    // v2: row 2 changed, rows 4/5 new, rest untouched
    val v2 = Seq((0L, "alpha one"), (1L, "beta two"), (2L, "gamma CHANGED"),
      (3L, "delta four"), (4L, "epsilon five"), (5L, "zeta six"))
      .toDF("id", "text")
    val inc = EmbeddingPipeline.embedColumnIncremental(v2, "id", "text",
      "emb", "hash/bow-64", counting, prior)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).toSeq, r.getLong(3))).sortBy(_._1).toSeq
    assert(acc.value === 3L, s"runtime saw ${acc.value} rows, not 3")
    val full = EmbeddingPipeline.embedColumn(v2, "text", "emb",
      "hash/bow-64", HashEmbeddingRuntime)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Float](2).toSeq, r.getLong(3))).sortBy(_._1).toSeq
    assert(inc === full)
    prior.unpersist()
  }

  test("createEmbeddings mirrors the reference's e2e assertions") {
    // FIXTURES.md §1: N rows, 0 null embeddings among usable, usage
    val n = 200
    val df = (0 until n).map(i => (i.toLong, s"Title $i")).toDF("id", "title")
    val (out, usage) = EmbeddingPipeline.createEmbeddings(
      spark, df, "id", "title", "emb", "hash/bow-64", HashEmbeddingRuntime)
    assert(usage.processedRows === n)
    assert(usage.processedTokens === 2L * n) // "Title", "<digits>"
    assert(out.where($"emb".isNull).count() === 0)
    assert(out.count() === n)
  }

  test("createEmbeddings supports TEXT and UUID primary keys") {
    // daemon_embeddings_test_with_db.rs:1120,1178 analog
    val uuids = (0 until 20).map(i =>
      (java.util.UUID.nameUUIDFromBytes(Array(i.toByte)).toString,
        s"Row $i"))
    val df = uuids.toDF("pk", "title")
    val (out, usage) = EmbeddingPipeline.createEmbeddings(
      spark, df, "pk", "title", "emb", "hash/bow-64", HashEmbeddingRuntime)
    assert(usage.processedRows === 20)
    assert(out.where($"emb".isNull).count() === 0)
    assert(out.select($"pk").distinct().count() === 20)
  }

  test("openai runtime: packs by token budget, parses response, retries") {
    val calls = scala.collection.mutable.ArrayBuffer[String]()
    var failures = 2
    val fake = new HttpTransport {
      override def post(url: String, headers: Map[String, String],
          body: String): String = {
        if (failures > 0) { failures -= 1; throw new java.io.IOException("flaky") }
        calls += body
        val n = "\"".r.findAllIn(body).size // crude: count inputs
        val inputs = body.split("\"input\":\\[")(1).count(_ == ',') + 1
        (1 to inputs).map(i => s"""{"embedding":[0.1,0.2,0.$i]}""")
          .mkString("""{"data":[""", ",", "]}")
      }
    }
    val rt = new OpenAiEmbeddingRuntime(fake, maxTokens = 4)
    val r = rt.process("openai/text-embedding-3-small",
      Seq("a b", "c d", "e f"))
    assert(r.embeddings.size === 3)
    assert(r.embeddings.head.length === 3)
    assert(calls.size === 2) // budget 4 → groups of 2 + 1
  }

  test("openai runtime reads the documented response shape in index order") {
    // the shape the API documents: each item carries "object":"embedding"
    // beside its vector, items may come back in any order, plus "usage"
    var requests = Seq.empty[String]
    val fake = new HttpTransport {
      override def post(url: String, headers: Map[String, String],
          body: String): String = {
        requests :+= body
        val n = graft.util.MiniJson.fields(body).strings("input").get.size
        (0 until n).reverse.map(i =>
          s"""{"object":"embedding","index":$i,"embedding":[0.$i,1e-3]}""")
          .mkString("""{"object":"list","data":[""", ",",
            """],"model":"text-embedding-3-small",""" +
              """"usage":{"prompt_tokens":8,"total_tokens":8}}""")
      }
    }
    val rt = new OpenAiEmbeddingRuntime(fake)
    val inputs = Seq("a \"quoted\" b", "c\nd", "e")
    val r = rt.process("openai/text-embedding-3-small", inputs)
    assert(r.embeddings.map(_.toSeq) ===
      Seq(Seq(0.0f, 0.001f), Seq(0.1f, 0.001f), Seq(0.2f, 0.001f)))
    // request bodies are valid JSON carrying the inputs verbatim
    assert(graft.util.MiniJson.fields(requests.head).strings("input") ===
      Some(inputs))
  }

  test("cohere runtime: fixed 96-input chunks") {
    var calls = 0
    val fake = new HttpTransport {
      override def post(url: String, headers: Map[String, String],
          body: String): String = {
        calls += 1
        val inputs = body.split("\"texts\":\\[")(1).count(_ == ',') + 1
        (1 to inputs).map(_ => "[0.5,0.5]")
          .mkString("""{"embeddings":[""", ",", "]}")
      }
    }
    val rt = new CohereEmbeddingRuntime(fake)
    val r = rt.process("cohere/embed-english-v3.0",
      (1 to 200).map(i => s"t$i"))
    assert(r.embeddings.size === 200)
    assert(calls === 3) // ceil(200/96)
  }

  test("memory-capped batch formula matches the reference computation") {
    // bge-small-ish: 12 layers, 12 heads of dim 32, seq 128
    val perInput = OnnxEmbeddingRuntime.requiredMemoryBytes(
      seqLen = 128, heads = 12, headDim = 32)
    val expected = (((4.0 * 12 * 12 * 12 * 32 * 32)
      + 12.0 * 12 * 128 * (128 + 2 * 32)) * 8.0 * 1.2).toLong
    assert(perInput === expected)
    val small = OnnxEmbeddingRuntime.maxBatchForMemory(
      64L << 20, seqLen = 128, heads = 12, headDim = 32)
    val big = OnnxEmbeddingRuntime.maxBatchForMemory(
      1L << 30, seqLen = 128, heads = 12, headDim = 32)
    assert(small === math.max(1L, (64L << 20) / perInput))
    assert(big === math.max(1L, (1L << 30) / perInput))
    assert(small >= 1 && big > small)
  }
}
