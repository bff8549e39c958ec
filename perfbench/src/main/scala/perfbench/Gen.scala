package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the benchmark feeds the engine
  * comes from here, and the same seed always yields the same bytes
  * (SplittableRandom and the arithmetic below are fully specified).
  */
object Gen {

  /** A sub-seed for one named input of one run: warm-up, each set-up
    * repetition and each timed batch draw from disjoint streams, so no
    * timed call ever sees an input an earlier call already saw.
    */
  def subSeed(seed: Long, tag: String, i: Int = 0): Long =
    mix64(seed * 0x9E3779B97F4A7C15L + tag.hashCode.toLong * 0xBF58476D1CE4E5B9L +
      i.toLong * 0x94D049BB133111EBL)

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Standard normal draws by Box-Muller, so the sequence does not
    * depend on the JDK's own Gaussian algorithm.
    */
  final class Normal(seed: Long) {
    private val r = new SplittableRandom(seed)
    private var spare = Double.NaN
    def next(): Double =
      if (!spare.isNaN) { val s = spare; spare = Double.NaN; s }
      else {
        var u = r.nextDouble()
        while (u <= 0.0) u = r.nextDouble()
        val v = r.nextDouble()
        val m = math.sqrt(-2.0 * math.log(u))
        spare = m * math.sin(2 * math.Pi * v)
        m * math.cos(2 * math.Pi * v)
      }
  }

  // ---------------------------------------------------------------- vectors

  /** A Gaussian mixture: cluster centres ~ N(0, 1) per dimension, points
    * = centre + N(0, sigma). Queries drawn from the same mixture land
    * where the corpus is dense, as real queries do.
    */
  final case class Mixture(centres: Array[Array[Float]], sigma: Double)

  def mixture(seed: Long, dim: Int, clusters: Int,
      sigma: Double = 0.6): Mixture = {
    val n = new Normal(subSeed(seed, "centres"))
    Mixture(Array.fill(clusters, dim)(n.next().toFloat), sigma)
  }

  def sample(m: Mixture, seed: Long, count: Int): Array[Array[Float]] = {
    val r = new SplittableRandom(subSeed(seed, "pick"))
    val n = new Normal(subSeed(seed, "noise"))
    Array.fill(count) {
      val c = m.centres(r.nextInt(m.centres.length))
      c.map(x => (x + m.sigma * n.next()).toFloat)
    }
  }

  // ------------------------------------------------------------------- text

  /** A synthetic word for vocabulary rank `i`: consonant-vowel syllables
    * spelling `i` in base 105, so every rank has a distinct word.
    */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvwxyz" // 20 (x 5 vowels + 5 = base 105)
    val vow = "aeiou"
    val b = new StringBuilder
    var x = i
    do {
      val d = x % 105
      if (d < 100) b += cons(d / 5) += vow(d % 5) else b += vow(d - 100)
      x /= 105
    } while (x > 0)
    b.toString
  }

  /** Zipf sampler over ranks 0..n-1 with exponent `s`. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** A topic-clustered corpus with planted near-duplicates.
    *
    * @param ids   document ids, a seeded permutation of 0..n-1 so the
    *              duplicates are not simply the last ids
    * @param texts whitespace-joined words
    * @param planted every (smaller id, larger id) pair of an original
    *              and its near-duplicate copy; each original is copied
    *              at most once, so these are all the near-duplicate
    *              pairs the generator made
    */
  final case class TextCorpus(ids: Array[Long], texts: Array[String],
      planted: Set[(Long, Long)])

  final case class TextSpec(vocab: Int = 20000, topics: Int = 24,
      zipfS: Double = 1.07, topicShare: Double = 0.7, minLen: Int = 40,
      maxLen: Int = 80, dupShare: Double = 0.05, editsMin: Int = 1,
      editsMax: Int = 4)

  /** Per-topic vocabularies: each topic ranks the shared vocabulary by
    * its own seeded permutation, so topics differ in which words are
    * frequent while all follow one Zipf law. Built once per spec.
    */
  final class Vocabulary(spec: TextSpec, seed: Long) {
    val words: Array[String] = Array.tabulate(spec.vocab)(word)
    val zipf = new Zipf(spec.vocab, spec.zipfS)
    val topicRank: Array[Array[Int]] = Array.tabulate(spec.topics) { t =>
      val r = new SplittableRandom(subSeed(seed, "topic", t))
      val p = Array.tabulate(spec.vocab)(identity)
      var i = p.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1); val x = p(i); p(i) = p(j); p(j) = x
        i -= 1
      }
      p
    }
    def doc(r: SplittableRandom): Array[String] = {
      val topic = r.nextInt(spec.topics)
      val len = spec.minLen + r.nextInt(spec.maxLen - spec.minLen + 1)
      Array.fill(len) {
        val rank = zipf.draw(r)
        if (r.nextDouble() < spec.topicShare) words(topicRank(topic)(rank))
        else words(rank)
      }
    }
  }

  def textCorpus(vocab: Vocabulary, spec: TextSpec, seed: Long,
      n: Int): TextCorpus = {
    val r = new SplittableRandom(subSeed(seed, "docs"))
    val nDup = math.round(n * spec.dupShare).toInt
    val nOrig = n - nDup
    val docs = new Array[Array[String]](n)
    var i = 0
    while (i < nOrig) { docs(i) = vocab.doc(r); i += 1 }
    // distinct originals for the copies: a partial Fisher-Yates draw
    val pick = Array.tabulate(nOrig)(identity)
    var d = 0
    while (d < nDup) {
      val j = d + r.nextInt(nOrig - d)
      val x = pick(d); pick(d) = pick(j); pick(j) = x
      val copy = docs(pick(d)).clone()
      val edits = spec.editsMin + r.nextInt(spec.editsMax - spec.editsMin + 1)
      var e = 0
      while (e < edits) {
        copy(r.nextInt(copy.length)) = vocab.words(r.nextInt(spec.vocab))
        e += 1
      }
      docs(nOrig + d) = copy
      d += 1
    }
    // seeded id permutation
    val ids = Array.tabulate(n)(_.toLong)
    var k = n - 1
    while (k > 0) {
      val j = r.nextInt(k + 1); val x = ids(k); ids(k) = ids(j); ids(j) = x
      k -= 1
    }
    val planted = (0 until nDup).map { c =>
      val a = ids(pick(c)); val b = ids(nOrig + c)
      (math.min(a, b), math.max(a, b))
    }.toSet
    TextCorpus(ids, docs.map(_.mkString(" ")), planted)
  }

  /** Serialize generated vectors to bytes (used to prove determinism). */
  def bytes(vs: Array[Array[Float]]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(vs.map(_.length * 4).sum)
    vs.foreach(_.foreach(bb.putFloat))
    bb.array()
  }
}
