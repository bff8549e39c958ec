package graft.operators

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.functions._

class KmvSpec extends SparkSuite {
  import spark.implicits._

  private def sketchOf(keys: Seq[Long], k: Int): Array[Long] = {
    val buf = Kmv.newBuffer()
    keys.foreach { x =>
      buf.add(java.lang.Long.valueOf(Hll.hash64(x)))
      if (buf.size > k) buf.pollLast()
    }
    Kmv.toSortedArray(buf)
  }

  test("unsaturated sketch is the exact hash set; estimate is exact") {
    val keys = (1L to 500L) ++ (1L to 500L) // dup input rows
    val sk = sketchOf(keys, 2048)
    assert(sk.length == 500)
    assert(Kmv.estimate(sk, 2048) == 500L)
    // sorted unsigned ascending, distinct
    assert(sk.toSeq == sk.toSeq.distinct)
    sk.sliding(2).foreach {
      case Array(a, b) =>
        assert(java.lang.Long.compareUnsigned(a, b) < 0)
      case _ =>
    }
  }

  test("saturated estimator: within 5% at k=1024 over 100k keys") {
    val rnd = new Random(7)
    val keys = (1L to 60000L) ++ (0 until 40000).map(_ => rnd.nextLong())
    val n = keys.distinct.size
    val est = Kmv.estimate(sketchOf(keys, 1024), 1024)
    assert(math.abs(est.toDouble / n - 1.0) < 0.05, s"est $est vs $n")
  }

  test("merge of part sketches equals the sketch of the union") {
    val a = (1L to 5000L).toSeq
    val b = (2500L to 9000L).toSeq
    val merged = Kmv.mergeArrays(sketchOf(a, 256), sketchOf(b, 256), 256)
    assert(merged.toSeq == sketchOf(a ++ b, 256).toSeq)
    // and the distributed aggregate agrees with the model
    graft.GraftSession.register(spark)
    val got = (a ++ b).toDF("x").repartition(8)
      .selectExpr("kmv_sketch(x, 256) AS s")
      .as[Seq[Long]].head()
    assert(got == merged.toSeq)
  }

  test("intersection and jaccard are exact below saturation") {
    val a = (1L to 1000L).toSeq
    val b = (700L to 1600L).toSeq // overlap 301, union 1600
    val (sa, sb) = (sketchOf(a, 2048), sketchOf(b, 2048))
    assert(Kmv.intersectEstimate(sa, sb, 2048) == 301L)
    assert(Kmv.jaccard(sa, sb, 2048) == 301.0 / 1600.0)
  }

  test("saturated intersection estimate lands within 15%") {
    val a = (1L to 50000L).toSeq
    val b = (30000L to 80000L).toSeq // true overlap 20001
    val k = 1024
    val est = Kmv.intersectEstimate(sketchOf(a, k), sketchOf(b, k), k)
    assert(math.abs(est.toDouble / 20001 - 1.0) < 0.15, s"est $est")
  }

  test("SQL surface: merge of day sketches, string keys, null keys") {
    graft.GraftSession.register(spark)
    val day1 = (1L to 300L).map(x => ("d1", s"user$x"))
    val day2 = (200L to 500L).map(x => ("d2", s"user$x"))
    (day1 ++ day2).toDF("day", "u").createOrReplaceTempView("kv_hits")
    // per-day sketches folded with kmv_merge == one global sketch
    val merged = spark.sql(
      """SELECT kmv_estimate(kmv_merge(s, 2048), 2048) AS n FROM (
        |  SELECT day, kmv_sketch(u, 2048) AS s FROM kv_hits GROUP BY day)
        |""".stripMargin).as[Long].head()
    assert(merged == 500L)
    // nulls are skipped, not hashed
    val withNull = spark.sql(
      "SELECT kmv_estimate(kmv_sketch(x, 64), 64) AS n FROM VALUES " +
        "('a'), ('b'), (CAST(NULL AS STRING)), ('a') AS t(x)")
      .as[Long].head()
    assert(withNull == 2L)
  }

  test("rollup carries kmv columns; compact fold preserves overlap reads") {
    import graft.plans.SummaryRewrite
    graft.GraftSession.register(spark)
    val dir = java.nio.file.Files
      .createTempDirectory("kmv_mv").toString
    val base = s"$dir/base"
    val roll = s"$dir/roll"
    (1L to 900L).map(x => (if (x % 3 == 0) "a" else "b", x % 400))
      .toDF("g", "u").write.parquet(base)
    SummaryRewrite.register(spark, base, roll, Seq("g"), Nil,
      sketches = Seq(SummaryRewrite.KmvSpec("u", 512)))
    def overlap() = SummaryRewrite
      .approxOverlap(spark, roll, Seq("g"), "u")
      .select($"g_a", $"g_b", $"est_a", $"est_b", $"est_common")
      .as[(String, String, Long, Long, Long)].collect().toSeq.sorted
    val before = overlap()
    // exact regime: group a = multiples of 3 mod 400, group b = rest
    val ua = (1L to 900L).filter(_ % 3 == 0).map(_ % 400).distinct.toSet
    val ub = (1L to 900L).filterNot(_ % 3 == 0).map(_ % 400).distinct.toSet
    assert(before == Seq(("a", "b", ua.size.toLong, ub.size.toLong,
      (ua & ub).size.toLong)))
    // appended delta chunk + compact fold must serve identical reads
    graft.streaming.SummaryStream.processBatch(
      (901L to 1000L).map(x => ("a", x % 400)).toDF("g", "u"), 7L,
      roll, Seq("g"), Nil, sketches = Seq(SummaryRewrite.KmvSpec("u", 512)))
    val withDelta = overlap()
    graft.streaming.SummaryStream.compact(spark, roll, Seq("g"))
    assert(overlap() == withDelta)
    assert(spark.read.parquet(roll).select("chunk").distinct()
      .as[Long].collect().toSeq == Seq(-1L))
    SummaryRewrite.unregister(spark, base)
  }
}
