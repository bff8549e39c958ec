package perfbench

import java.nio.file.Files
import java.security.MessageDigest

import org.scalactic.Tolerance._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own code: generators, reference answers, statistics
  * and checkers. None of it needs Spark.
  */
class BenchSpec extends AnyFunSuite {

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x")
      .mkString

  private def corpusBytes(c: Gen.TextCorpus): Array[Byte] =
    (c.ids.mkString(",") + "\n" + c.texts.mkString("\n") + "\n" +
      c.planted.toSeq.sorted.mkString(",")).getBytes("UTF-8")

  // ------------------------------------------------------------ generator

  test("vector generator is byte-identical for a seed, and pinned") {
    val m = Gen.mixture(7L, 16, 4, 1.0)
    val a = Gen.bytes(Gen.sample(m, 42L, 100))
    val b = Gen.bytes(Gen.sample(Gen.mixture(7L, 16, 4, 1.0), 42L, 100))
    assert(a.sameElements(b))
    assert(!a.sameElements(Gen.bytes(Gen.sample(m, 43L, 100))))
    // a change to the generator or its arithmetic changes every input
    // the benchmark has measured: it must show here
    assert(sha256(a) === VectorDigest)
  }

  test("text generator is byte-identical for a seed, and pinned") {
    val spec = Gen.TextSpec(vocab = 500, topics = 4)
    def make(seed: Long) =
      Gen.textCorpus(new Gen.Vocabulary(spec, 3L), spec, seed, 200)
    val a = corpusBytes(make(5L))
    assert(a.sameElements(corpusBytes(make(5L))))
    assert(!a.sameElements(corpusBytes(make(6L))))
    assert(sha256(a) === TextDigest)
  }

  test("planted near-duplicates are distinct originals above tau") {
    val spec = Gen.TextSpec(vocab = 2000, topics = 4)
    val c = Gen.textCorpus(new Gen.Vocabulary(spec, 1L), spec, 9L, 400)
    assert(c.planted.size === 20)
    assert(c.ids.distinct.length === 400)
    val text = c.ids.zip(c.texts).toMap
    val members = c.planted.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(members.distinct.size === members.size)
    c.planted.foreach { case (a, b) =>
      assert(a < b)
      assert(Checks.jaccard(Checks.shingles(text(a)),
        Checks.shingles(text(b))) >= 0.5)
    }
  }

  test("sub-seeds differ by tag and index") {
    val s = Seq(Gen.subSeed(1L, "a"), Gen.subSeed(1L, "b"),
      Gen.subSeed(1L, "a", 1), Gen.subSeed(2L, "a"))
    assert(s.distinct.size === 4)
  }

  // ---------------------------------------------------------------- truth

  test("brute force matches a hand-computed case, ties by id") {
    val ids = Array(10L, 11L, 12L, 13L, 14L)
    val vecs = Array(Array(0f, 0f), Array(3f, 4f), Array(1f, 1f),
      Array(-1f, -1f), Array(0f, 2f))
    // from (0, 1): 10 -> 1, 11 -> 9 + 9 = 18, 12 -> 1 + 0 = 1,
    // 13 -> 1 + 4 = 5, 14 -> 0 + 1 = 1
    val got = Truth.topK(ids, vecs, Array(0f, 1f), 4)
    assert(got.map(_.id).toSeq === Seq(10L, 12L, 14L, 13L))
    assert(got.map(_.dist).toSeq === Seq(1.0, 1.0, 1.0, 5.0))
    val par = Truth.knn(ids, vecs, IndexedSeq(Array(0f, 1f),
      Array(3f, 4f)), 2, threads = 2)
    assert(par(0).map(_.id).toSeq === Seq(10L, 12L))
    assert(par(1).map(_.id).toSeq === Seq(11L, 12L))
    val filtered = Truth.topK(ids, vecs, Array(0f, 1f), 2, i => i % 2 == 1)
    assert(filtered.map(_.id).toSeq === Seq(13L, 11L))
  }

  test("distance arithmetic is double accumulation over floats") {
    val a = Array(0.1f, 0.2f); val b = Array(0.3f, -0.4f)
    val d0 = 0.1f.toDouble - 0.3f.toDouble
    val d1 = 0.2f.toDouble - (-0.4f).toDouble
    assert(Truth.l2sq(a, b) === d0 * d0 + d1 * d1)
  }

  // ----------------------------------------------------------- statistics

  test("percentiles interpolate linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.percentile(xs, 25) === 1.75)
    assert(Stats.percentile(Seq(15.0, 20.0, 35.0, 40.0, 50.0), 40) ===
      29.0 +- 1e-12)
    assert(Stats.median(Seq(7.0)) === 7.0)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("a tail is reported only with ten samples beyond it") {
    assert(Stats.beyond(200, 95) === 10)
    assert(Stats.beyond(100, 90) === 10)
    assert(Stats.beyond(99, 90) === 9)
    assert(Stats.tailPercentile(1000) === Some(99.0))
    assert(Stats.tailPercentile(200) === Some(95.0))
    assert(Stats.tailPercentile(150) === Some(90.0))
    assert(Stats.tailPercentile(99) === None)
  }

  test("interval union counts overlaps once") {
    assert(Tracer.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) === 20.0)
    assert(Tracer.union(Nil) === 0.0)
  }

  // ------------------------------------------------------------- checkers

  private val vecs = Map(1L -> Array(0f, 0f), 2L -> Array(1f, 0f),
    3L -> Array(0f, 2f))
  private val q = Array(0f, 0f)
  private val truth = Truth.topK(vecs.keys.toArray.sorted,
    vecs.keys.toArray.sorted.map(vecs), q, 2)
  private val good = Seq(Checks.Nn(0, 1, 1, 0.0), Checks.Nn(0, 2, 2, 1.0))

  test("a correct answer passes with full recall") {
    assert(Checks.answer(good, q, truth, vecs.get) === ((None, 2)))
    assert(Checks.answer(good, q, truth, vecs.get, exact = true)._1 === None)
  }

  test("the answer checker rejects corrupted answers") {
    def bad(rows: Seq[Checks.Nn], exact: Boolean = false) =
      assert(Checks.answer(rows, q, truth, vecs.get, exact)._1.isDefined,
        rows)
    bad(good.take(1))                                  // too few
    bad(Seq(good(0).copy(dist = 0.5), good(1)))        // wrong distance
    bad(Seq(good(0).copy(rank = 2), good(1).copy(rank = 1))) // unsorted
    bad(Seq(good(0), good(1).copy(rank = 3)))          // rank gap
    bad(Seq(good(0), good(1).copy(nid = 9)))           // unknown id
    bad(Seq(good(0), good(0).copy(rank = 2)))          // repeated id
    // a valid but non-exact answer fails only the exact check
    val approx = Seq(good(0), Checks.Nn(0, 3, 2, 4.0))
    assert(Checks.answer(approx, q, truth, vecs.get) === ((None, 1)))
    bad(approx, exact = true)
  }

  test("the duplicate-pair checker rejects missed and false pairs") {
    val text = Map(1L -> "a b c d e f", 2L -> "a b c d e g",
      3L -> "x y z w v u")
    val planted = Set((1L, 2L))
    assert(Checks.dupPairs(planted, planted, text, 0.5).isEmpty)
    assert(Checks.dupPairs(Set.empty, planted, text, 0.5).size === 1)
    assert(Checks.dupPairs(planted + ((1L, 3L)), planted, text, 0.5)
      .size === 1)
  }

  test("the exactly-once checker rejects duplicates, gaps and extras") {
    assert(Checks.exactlyOnce(Seq(1L, 2L, 3L), Set(1L, 2L, 3L)).isEmpty)
    assert(Checks.exactlyOnce(Seq(1L, 2L, 2L, 3L), Set(1L, 2L, 3L))
      .size === 1)
    assert(Checks.exactlyOnce(Seq(1L, 3L), Set(1L, 2L, 3L)).size === 1)
    assert(Checks.exactlyOnce(Seq(1L, 2L, 3L, 4L), Set(1L, 2L, 3L))
      .size === 1)
  }

  test("the HTTP checker parses results and rejects bad responses") {
    val body = """{"results":[{"id":1,"rank":1,"distance":0.0},""" +
      """{"id":2,"rank":2,"distance":1.0}]}"""
    assert(Checks.httpResults(200, body, 0L) === Right(good))
    assert(Checks.httpResults(500, body, 0L).isLeft)
    assert(Checks.httpResults(200, """{"error":"x"}""", 0L).isLeft)
    // a parsed but corrupted response fails the answer check
    val corrupted = body.replace("\"distance\":1.0", "\"distance\":0.5")
    val rows = Checks.httpResults(200, corrupted, 0L).toOption.get
    assert(Checks.answer(rows, q, truth, vecs.get)._1.isDefined)
  }

  test("a request that throws counts as a failed operation") {
    // a port nothing listens on: the client's send throws
    val port = { val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close() }
    val (code, body) = ServeHttp.post(ServeHttp.newClient(),
      s"http://127.0.0.1:$port/collections/x/search", "{}")
    assert(code === -1)
    val out = new Outcome
    out.check(Checks.httpResults(code, body, 7L).left.toOption)
    assert(out.attempted === 1 && out.failures.size === 1)
    assert(Workload.attempt(sys.error("boom")).isLeft)
    assert(Workload.attempt(1) === Right(1))
  }

  test("a worker thread that dies reports what it threw") {
    assert(new Worker("ok")(()).join() === None)
    val died = new Worker("dies")(throw new IllegalStateException("x"))
      .join()
    assert(died.exists(_.isInstanceOf[IllegalStateException]))
  }

  test("the file-source log maps each landed file to its batch") {
    val dir = Files.createTempDirectory("srclog")
    Files.writeString(dir.resolve("0"), "v1\n" +
      """{"path":"file:///x/landing/f00000.parquet","timestamp":1,"batchId":0}""" +
      "\n")
    Files.writeString(dir.resolve("1"), "v1\n" +
      """{"path":"file:///x/landing/f00001.parquet","timestamp":2,"batchId":1}""" +
      "\n" +
      """{"path":"file:///x/landing/f00002.parquet","timestamp":2,"batchId":1}""" +
      "\n")
    assert(IngestStream.sourceLog(dir.toString) === Map(
      "f00000.parquet" -> 0L, "f00001.parquet" -> 1L,
      "f00002.parquet" -> 1L))
  }

  test("result JSON keeps every digit and escapes strings") {
    assert(Json.render(Json.obj("a" -> 0.1234567890123, "b" -> "q\"\n",
      "c" -> Seq(1, 2L), "d" -> Double.NaN)) ===
      """{"a":0.1234567890123,"b":"q\"\n","c":[1,2],"d":null}""")
  }

  private val VectorDigest =
    "2b4b063c55216582becabb3ac0aedd100bc01f1e173687e6e029ea26a5596b8d"
  private val TextDigest =
    "96664922c854a41d6a32aa019b5e3eeeb8ef1c82e5988e2c30fddfd68c72ae7d"
}
