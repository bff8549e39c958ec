package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** HDR log2-bucket quantile sketch + count-min frequency sketch: the
  * pure bucket/slot arithmetic, the DataFrame aggregates, merge
  * associativity (= partitioning invariance), the rollup integration
  * (HdrSpec / CmsSpec fold + serve), and the error contracts the
  * Scaladoc promises (<= 2^-p relative for HDR quantiles; one-sided
  * >= truth for CMS).
  */
class HdrCmsSpec extends SparkSuite {
  import spark.implicits._

  // ---- Hdr bucket arithmetic --------------------------------------

  test("hdr bucket map: exact region, monotone, lower-bound inverse") {
    val p = 5
    // exact region: values below 2^p are their own bucket
    (0 until 32).foreach(v => assert(Hdr.bucket(v.toLong, p) === v))
    // negatives clamp to 0
    assert(Hdr.bucket(-7L, p) === 0)
    // monotone non-decreasing over a boundary-dense probe set, and
    // lower(bucket(v)) <= v < lower(bucket(v)+1) everywhere
    val probes = (0 to 62).flatMap { e =>
      val b = 1L << e
      Seq(b - 1, b, b + 1, b + (b >> 1), (b << 1) - 1).filter(_ > 0)
    }.distinct.sorted
    probes.sliding(2).foreach {
      case Seq(a, b) =>
        assert(Hdr.bucket(a, p) <= Hdr.bucket(b, p))
      case _ => ()
    }
    probes.foreach { v =>
      val bk = Hdr.bucket(v, p)
      assert(Hdr.lower(bk, p) <= v)
      if (bk + 1 < Hdr.nBuckets(p))
        assert(v < Hdr.lower(bk + 1, p), s"v=$v bk=$bk")
      // the relative-error contract: lower bound within 2^-p of v
      assert(v - Hdr.lower(bk, p) <= math.max(1L, v >> p))
    }
  }

  test("hdr quantile: integer rank walk, empty sketch sentinel") {
    val p = 2 // 4 sub-buckets, tiny array for a hand-checked walk
    val counts = new Array[Long](Hdr.nBuckets(p))
    // values 1,2,3 once each: buckets 1,2,3 (exact region)
    Seq(1L, 2L, 3L).foreach(v => counts(Hdr.bucket(v, p)) += 1)
    assert(Hdr.quantile(counts, 1, 3, p) === 1L) // ceil(3*1/3)=1 -> 1st
    assert(Hdr.quantile(counts, 1, 2, p) === 2L) // ceil(3/2)=2 -> 2nd
    assert(Hdr.quantile(counts, 1, 1, p) === 3L) // 3rd
    assert(Hdr.quantile(new Array[Long](Hdr.nBuckets(p)), 1, 2, p)
      === Long.MinValue)
  }

  // ---- Cms slot arithmetic ----------------------------------------

  test("cms slots: in range, rows differ, negative keys well-defined") {
    val w = 64
    val keys = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue + 1)
    keys.foreach { k =>
      (0 until 4).foreach { r =>
        val s = Cms.slot(k, r, w)
        assert(s >= 0 && s < w)
      }
    }
    // the four row hashes are not all equal for a typical key
    assert((0 until 4).map(r => Cms.slot(42L, r, 512)).distinct.size > 1)
  }

  // ---- DataFrame aggregates ---------------------------------------

  private lazy val vals: Seq[Long] =
    (1 to 500).map(i => (i.toLong * i) % 9973 + 1)

  test("hdr_sketch quantiles within 2^-p relative of exact") {
    val df = vals.toDF("v")
    val row = df.agg(
      expr("hdr_quantile(hdr_sketch(v, 5), 50, 100, 5)").as("p50"),
      expr("hdr_quantile(hdr_sketch(v, 5), 99, 100, 5)").as("p99"))
      .head()
    val sorted = vals.sorted
    def exact(q: Double): Long =
      sorted((q * sorted.size).ceil.toInt - 1)
    Seq(("p50", 0.5), ("p99", 0.99)).zipWithIndex.foreach {
      case ((_, q), i) =>
        val est = row.getLong(i)
        val ex = exact(q)
        assert(est <= ex, s"lower bound must not exceed the exact q=$q")
        assert(ex - est <= math.max(1L, ex >> 5),
          s"q=$q est=$est exact=$ex exceeds 2^-5 relative error")
    }
  }

  test("hdr merge = partitioning invariance (fold equals one-shot)") {
    val df = vals.toDF("v")
    val one = df.coalesce(1)
      .agg(expr("hdr_sketch(v, 5)")).head().getSeq[Long](0)
    val many = df.repartition(7)
      .agg(expr("hdr_sketch(v, 5)")).head().getSeq[Long](0)
    assert(one === many)
    // persisted-partial fold: per-part sketches hist_merge to the same
    val folded = df.withColumn("part", $"v" % 3)
      .groupBy($"part").agg(expr("hdr_sketch(v, 5)").as("sk"))
      .agg(expr("hist_merge(sk)")).head().getSeq[Long](0)
    assert(folded === one)
  }

  test("cms estimate: one-sided, exact at generous width, mergeable") {
    val keys = (1 to 300).map(i => (i % 40).toLong)
    val df = keys.toDF("k")
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sk = df.agg(expr("cms_sketch(k, 4, 512)").as("sk"))
    val ests = df.distinct()
      .crossJoin(broadcast(sk))
      .select($"k", expr("cms_estimate(sk, k, 4, 512)").as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ests.foreach { case (k, est) =>
      assert(est >= exact(k), s"CMS must never underestimate (key $k)")
    }
    // 40 keys into 4x512 registers: collisions are possible but the
    // min-over-rows read should be exact for nearly all keys
    assert(ests.count { case (k, est) => est == exact(k) } >= 38)
    // fold of per-part sketches equals the one-shot sketch
    val one = df.coalesce(1).agg(expr("cms_sketch(k, 4, 512)"))
      .head().getSeq[Long](0)
    val folded = df.withColumn("part", $"k" % 5)
      .groupBy($"part").agg(expr("cms_sketch(k, 4, 512)").as("sk"))
      .agg(expr("hist_merge(sk)")).head().getSeq[Long](0)
    assert(folded === one)
  }

  // ---- rollup integration -----------------------------------------

  test("HdrSpec + CmsSpec rollup: fold serves the direct sketch") {
    import graft.plans.SummaryRewrite
    val dir = java.nio.file.Files
      .createTempDirectory("hdrcms_mv").toString
    val base = s"$dir/base"
    val events = spark.read.parquet(s"$sf001/events.parquet")
    // two-file base so the rollup folds across >1 chunkable input
    events.repartition(2).write.parquet(base)
    SummaryRewrite.register(spark, base, s"$dir/roll",
      Seq("event_type"), Seq("value"),
      sketches = Seq(SummaryRewrite.HdrSpec("value_c",
        "CAST(floor(value * 100) AS BIGINT)", 5),
        SummaryRewrite.CmsSpec("user_id", 4, 512)))
    try {
      // rollup-served quantiles == direct sketch over the base
      val served = SummaryRewrite.hdrQuantiles(spark, s"$dir/roll",
        Seq("event_type"), "value_c", Seq((50L, 100L), (99L, 100L)))
        .orderBy($"event_type").collect()
      val direct = events.groupBy($"event_type")
        .agg(
          expr("hdr_quantile(hdr_sketch(CAST(floor(value * 100) AS " +
            "BIGINT), 5), 50, 100, 5)").as("p50"),
          expr("hdr_quantile(hdr_sketch(CAST(floor(value * 100) AS " +
            "BIGINT), 5), 99, 100, 5)").as("p99"))
        .orderBy($"event_type").collect()
      assert(served.map(_.toSeq) === direct.map(_.toSeq))
      // rollup-served frequency == direct global sketch estimate
      val keys = events.select($"user_id").where($"user_id".isNotNull)
        .distinct()
      val servedF = SummaryRewrite.approxFreq(spark, s"$dir/roll",
        Seq(), "user_id", keys).orderBy($"user_id").collect()
      val skDf = events.where($"user_id".isNotNull)
        .agg(expr("cms_sketch(user_id, 4, 512)").as("__cms"))
      val directF = keys.crossJoin(broadcast(skDf))
        .select($"user_id",
          expr("cms_estimate(__cms, user_id, 4, 512)").as("est"))
        .orderBy($"user_id").collect()
      assert(servedF.map(_.toSeq) === directF.map(_.toSeq))
      // registration rejects a non-integral hdr expression
      val err = intercept[IllegalArgumentException] {
        SummaryRewrite.register(spark, base, s"$dir/roll2",
          Seq("event_type"), Nil,
          sketches = Seq(SummaryRewrite.HdrSpec("bad", "value * 100", 5)))
      }
      assert(err.getMessage.contains("integral"))
    } finally SummaryRewrite.unregister(spark, base)
  }
}
