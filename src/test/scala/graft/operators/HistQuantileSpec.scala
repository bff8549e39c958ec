package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class HistQuantileSpec extends SparkSuite {
  import spark.implicits._

  private def countsOf(xs: Seq[Double], lo: Double, hi: Double,
      nbins: Int): Array[Long] = {
    val c = new Array[Long](nbins)
    xs.filterNot(_.isNaN).foreach(x => c(Hist.bin(x, lo, hi, nbins)) += 1)
    c
  }

  test("bin edges: clamping, hi-boundary, and the documented op order") {
    assert(Hist.bin(0.0, 0.0, 10.0, 10) == 0)
    assert(Hist.bin(9.999, 0.0, 10.0, 10) == 9)
    assert(Hist.bin(10.0, 0.0, 10.0, 10) == 9) // x == hi clamps in
    assert(Hist.bin(-5.0, 0.0, 10.0, 10) == 0) // underflow clamps
    assert(Hist.bin(99.0, 0.0, 10.0, 10) == 9) // overflow clamps
    assert(Hist.bin(3.5, 0.0, 10.0, 10) == 3)
  }

  test("quantile error is bounded by one bin width; exact at bin " +
      "boundaries for uniform integer data") {
    val xs = (1 to 1000).map(_.toDouble)
    val c = countsOf(xs, 1.0, 1001.0, 100) // width 10
    for (q <- Seq(0.1, 0.25, 0.5, 0.9, 0.99)) {
      val approx = Hist.quantile(c, q, 1.0, 1001.0)
      val exact = xs((q * 1000).toInt.min(999) - 0 max 0)
      assert(math.abs(approx - exact) <= 10.0 + 1e-9,
        s"q=$q approx $approx exact $exact")
    }
    // empty sketch -> NaN
    assert(Hist.quantile(new Array[Long](10), 0.5, 0, 1).isNaN)
  }

  test("sketch of a union equals elementwise sum of part sketches, " +
      "and the distributed aggregate agrees with the model") {
    val a = (1 to 400).map(_ % 37 + 0.5)
    val b = (1 to 300).map(_ % 11 * 3.0)
    val summed = countsOf(a, 0, 40, 20).zip(countsOf(b, 0, 40, 20))
      .map { case (x, y) => x + y }
    assert(summed.toSeq == countsOf(a ++ b, 0, 40, 20).toSeq)
    graft.GraftSession.register(spark)
    val got = (a ++ b).toDF("x").repartition(8)
      .selectExpr("hist_sketch(x, 0, 40, 20) AS c")
      .as[Seq[Long]].head()
    assert(got == summed.toSeq)
  }

  test("SQL surface: per-day persisted sketches fold with hist_merge " +
      "to the one-shot sketch; quantile reads off the fold") {
    graft.GraftSession.register(spark)
    val rows = (1 to 2000).map(i => (s"d${i % 3}", (i % 100).toDouble))
    rows.toDF("day", "x").createOrReplaceTempView("vals")
    val folded = spark.sql(
      """WITH per_day AS (
        |  SELECT day, hist_sketch(x, 0, 100, 50) AS c
        |  FROM vals GROUP BY day)
        |SELECT hist_merge(c) AS c,
        |  hist_quantile(hist_merge(c), 0.5, 0, 100) AS p50
        |FROM per_day""".stripMargin).head()
    val direct = spark.sql(
      """SELECT hist_sketch(x, 0, 100, 50) AS c,
        |  hist_quantile(hist_sketch(x, 0, 100, 50), 0.5, 0, 100) AS p50
        |FROM vals""".stripMargin).head()
    assert(folded.getSeq[Long](0) == direct.getSeq[Long](0))
    assert(folded.getDouble(1) == direct.getDouble(1))
    // median of 0..99 uniform ~ 50, within one 2-wide bin
    assert(math.abs(folded.getDouble(1) - 50.0) <= 2.0 + 1e-9)
  }

  test("nulls and NaN are skipped, never clamped into edge bins") {
    graft.GraftSession.register(spark)
    val got = Seq[Option[Double]](Some(1.0), None, Some(Double.NaN),
      Some(2.0)).toDF("x")
      .selectExpr("hist_sketch(x, 0, 4, 4) AS c").as[Seq[Long]].head()
    assert(got == Seq(0L, 1L, 1L, 0L))
  }

  test("mixed bin widths refuse to merge; non-numeric keys rejected " +
      "at analysis") {
    graft.GraftSession.register(spark)
    val mixed = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("c")
    val e = intercept[Exception] {
      mixed.selectExpr("hist_merge(c)").collect()
    }
    assert(e.getMessage.contains("width") ||
      Option(e.getCause).exists(_.getMessage.contains("width")))
    val e2 = intercept[Exception] {
      spark.sql("SELECT hist_sketch(x, 0, 1, 4) FROM VALUES ('a') t(x)")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("numeric") ||
      e2.getMessage.contains("DATATYPE_MISMATCH"), e2.getMessage)
  }

  test("histogram measures ride the rollup: chunked hist_ columns " +
      "fold to the one-shot sketch and approxQuantile serves them") {
    import graft.plans.SummaryRewrite
    import graft.plans.SummaryRewrite.HistSpec
    import graft.streaming.SummaryStream
    val tmp = java.nio.file.Files.createTempDirectory("graft_hist_mv")
    val baseDir = s"$tmp/fact.parquet"
    val sumDir = s"$tmp/rollup"
    def mk(from: Int, n: Int) = (from until from + n)
      .map(i => (if (i % 2 == 0) "A" else "B", (i % 90).toDouble))
      .toDF("flag", "v")
    mk(0, 120).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("v"),
      sketches = Seq(HistSpec("v", 0.0, 100.0, 25)))
    SummaryStream.processBatch(mk(0, 120), 0L, sumDir, Seq("flag"),
      Seq("v"), sketches = Seq(HistSpec("v", 0.0, 100.0, 25)))
    SummaryStream.processBatch(mk(120, 80), 1L, sumDir, Seq("flag"),
      Seq("v"), sketches = Seq(HistSpec("v", 0.0, 100.0, 25)))
    val allRows = mk(0, 120).unionByName(mk(120, 80))
    graft.GraftSession.register(spark)
    val direct = allRows.groupBy($"flag")
      .agg(expr("hist_quantile(hist_sketch(v, 0, 100, 25), 0.5, 0, 100)")
        .as("p50"))
      .orderBy($"flag").collect().map(r => (r.getString(0),
        r.getDouble(1))).toSeq
    val served = SummaryRewrite.approxQuantile(spark, sumDir,
        Seq("flag"), "v", Seq(0.5), 0.0, 100.0)
      .orderBy($"flag").collect().map(r => (r.getString(0),
        r.getDouble(1))).toSeq
    assert(served == direct)
    // and the fold preserves them
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val afterCompact = SummaryRewrite.approxQuantile(spark, sumDir,
        Seq("flag"), "v", Seq(0.5), 0.0, 100.0)
      .orderBy($"flag").collect().map(r => (r.getString(0),
        r.getDouble(1))).toSeq
    assert(afterCompact == direct)
    SummaryRewrite.clear()
  }
}
