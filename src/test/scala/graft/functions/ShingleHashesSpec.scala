package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the native ShingleHashes expression to the semantics of the
  * Scala UDF it replaced (String.split(' ') + FNV-1a over space-joined
  * n-grams, LinkedHashSet first-occurrence order) — byte-for-byte,
  * including the split's empty-word edge cases.
  */
class ShingleHashesSpec extends SparkSuite {

  /** The replaced UDF, verbatim, as the reference implementation. */
  private def referenceShingles(t: String, n: Int): Seq[Long] = {
    val space = ' '.toByte
    if (t == null) Seq.empty
    else {
      val w = t.split(' ')
      if (w.length < n) Seq.empty
      else {
        val wb = w.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val set = new scala.collection.mutable.LinkedHashSet[Long]
        var i = 0
        while (i <= w.length - n) {
          var h = TextHash.FnvOffset
          var k = i
          while (k < i + n) {
            val bytes = wb(k)
            var b = 0
            while (b < bytes.length) {
              h ^= (bytes(b) & 0xffL); h *= TextHash.FnvPrime; b += 1
            }
            if (k < i + n - 1) {
              h ^= (space & 0xffL); h *= TextHash.FnvPrime
            }
            k += 1
          }
          set += h
          i += 1
        }
        set.toSeq
      }
    }
  }

  private def viaExpr(texts: Seq[String], n: Int): Seq[Seq[Long]] = {
    import spark.implicits._
    texts.toDF("t")
      .select(TextFunctions.shingle_hashes($"t", n).as("hs"))
      .collect().toSeq.map(_.getSeq[Long](0))
  }

  private val edges = Seq(
    "a b c d", "one two three", "", " ", "  ", "a", "a ", " a",
    "a  b", "a b ", " a b c ", "dup dup dup dup", "héllo wörld ünïcode x",
    "a b a b a b", "tab\tkeeps words", "multi  space  runs  here")

  test("matches the reference UDF on edge cases, n=1..4") {
    for (n <- 1 to 4) {
      val got = viaExpr(edges, n)
      val want = edges.map(referenceShingles(_, n))
      assert(got == want, s"n=$n")
    }
  }

  test("matches the reference UDF on real corpus text (n=3, n=8)") {
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0)).toSeq
    for (n <- Seq(3, 8)) {
      val got = viaExpr(texts, n)
      val want = texts.map(referenceShingles(_, n))
      assert(got == want, s"n=$n")
    }
  }

  test("null text yields an empty array (UDF contract)") {
    import spark.implicits._
    val r = Seq[String](null).toDF("t")
      .select(TextFunctions.shingle_hashes($"t", 3).as("hs"))
      .collect()(0).getSeq[Long](0)
    assert(r.isEmpty)
  }

  test("SQL registration works") {
    import spark.implicits._
    graft.GraftSession.register(spark)
    Seq("a b c d").toDF("t").createOrReplaceTempView("sh_t")
    val r = spark.sql("SELECT shingle_hashes(t) AS hs FROM sh_t")
      .collect()(0).getSeq[Long](0)
    assert(r == referenceShingles("a b c d", 3))
  }
}
