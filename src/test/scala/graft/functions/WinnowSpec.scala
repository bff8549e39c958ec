package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003):
  * pins GramHashes to positional FNV-1a gram semantics and Winnow to
  * the paper's guarantees — one fingerprint selected per window,
  * rightmost-min tie-breaking, robustness (a local edit leaves
  * fingerprints outside its neighborhood untouched).
  */
class WinnowSpec extends SparkSuite {
  import spark.implicits._

  private def gramHashes(texts: Seq[String], n: Int): Seq[Seq[Long]] =
    texts.toDF("t")
      .select(TextFunctions.gram_hashes($"t", n).as("hs"))
      .collect().toSeq.map(_.getSeq[Long](0))

  private def winnowed(text: String, k: Int, w: Int): Seq[(Int, Long)] =
    Seq(text).toDF("t")
      .select(explode(TextFunctions.winnow(
        TextFunctions.gram_hashes($"t", k), w)).as("f"))
      .select($"f.pos", $"f.fp")
      .collect().toSeq.map(r => (r.getInt(0), r.getLong(1)))

  test("gram_hashes is the positional (non-deduped) ShingleHashes") {
    val texts = Seq("a b a b a b", "one two three four", "a", "", "x  y z")
    for (n <- 1 to 3) {
      val grams = gramHashes(texts, n)
      val shingles = texts.toDF("t")
        .select(TextFunctions.shingle_hashes($"t", n).as("hs"))
        .collect().toSeq.map(_.getSeq[Long](0))
      // distinct-in-order of the positional stream == the shingle set
      assert(grams.map(_.distinct) == shingles, s"n=$n")
      // repeated grams hash identically at their positions
      val rep = gramHashes(Seq("a b a b a b"), 2).head
      assert(rep(0) == rep(2) && rep(2) == rep(4))
    }
  }

  test("every window of w grams contains a selected fingerprint") {
    val text = (1 to 200).map(i => s"w${i % 37}").mkString(" ")
    val hashes = gramHashes(Seq(text), 3).head
    val sel = winnowed(text, 3, 4).map(_._1).toSet
    for (s <- 0 to hashes.length - 4)
      assert((s until s + 4).exists(sel.contains), s"window at $s uncovered")
  }

  test("selected positions are rightmost-minima of some window") {
    val text = (1 to 120).map(i => s"t${i % 11}").mkString(" ")
    val hashes = gramHashes(Seq(text), 3).head
    for ((pos, fp) <- winnowed(text, 3, 4)) {
      assert(hashes(pos) == fp)
      val someWindow = (math.max(0, pos - 3) to
          math.min(pos, hashes.length - 4)).exists { s =>
        val win = (s until s + 4)
        win.forall(j => hashes(pos) < hashes(j) || j <= pos) &&
          win.forall(j => hashes(pos) <= hashes(j))
      }
      assert(someWindow, s"pos $pos not a rightmost window min")
    }
  }

  test("density: keeps roughly 2/(w+1) of grams, never more than 1/1") {
    val text = (1 to 500).map(i => s"v${(i * 7919) % 499}").mkString(" ")
    val n = gramHashes(Seq(text), 3).head.length
    val kept = winnowed(text, 3, 4).length
    assert(kept <= n)
    // SWA density 2/(w+1) = 0.4 for w=4; allow generous slack
    assert(kept.toDouble / n < 0.65, s"density ${kept.toDouble / n}")
    assert(kept.toDouble / n > 0.2, s"density ${kept.toDouble / n}")
  }

  test("local edit preserves fingerprints outside its neighborhood") {
    val words = (1 to 100).map(i => s"s${(i * 31) % 83}")
    val orig = words.mkString(" ")
    val edited = words.updated(50, "EDITED").mkString(" ")
    val a = winnowed(orig, 3, 4).toSet
    val b = winnowed(edited, 3, 4).toSet
    // grams touching word 50 span positions 48..50; windows reach w-1
    // further back — anything selected outside [44, 56] must survive
    val stable = a.filter { case (p, _) => p < 44 || p > 56 }
    assert(stable.subsetOf(b), "distant fingerprints changed")
    assert(a != b, "edit undetected")
  }

  test("winnowOverlapPairs: shared span found, boilerplate capped out") {
    val span = (1 to 40).map(i => s"shared${(i * 13) % 29}").mkString(" ")
    val boiler = "copyright footer terms of service apply"
    def noise(seed: Int) =
      (1 to 60).map(i => s"n${seed}_${(i * 7) % 53}").mkString(" ")
    // docs 1 and 2 share the 40-word span; 3..9 share only boilerplate
    val docs = Seq(
      (1L, s"${noise(1)} $span $boiler"),
      (2L, s"$span ${noise(2)} $boiler")) ++
      (3L to 9L).map(i => (i, s"${noise(i.toInt)} $boiler"))
    val df = docs.toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .winnowOverlapPairs(df, "doc_id", "text",
        minShared = 3, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)),
      s"expected only the planted span pair, got ${pairs.toSeq}")
  }

  test("shorter than one window yields no fingerprints; SQL registration") {
    graft.GraftSession.register(spark)
    Seq("a b c d e").toDF("t").createOrReplaceTempView("wn_t")
    // 3 grams < w=4 -> empty
    val r = spark.sql(
      "SELECT size(winnow(gram_hashes(t, 3), 4)) AS n FROM wn_t")
      .collect()(0).getInt(0)
    assert(r == 0)
    val r2 = spark.sql(
      "SELECT size(winnow(gram_hashes(t, 1), 4)) AS n FROM wn_t")
      .collect()(0).getInt(0)
    assert(r2 >= 1)
  }
}
