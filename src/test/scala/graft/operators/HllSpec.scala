package graft.operators

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.functions._

class HllSpec extends SparkSuite {
  import spark.implicits._

  private def regsOf(keys: Seq[Long], p: Int): Array[Int] = {
    val m = 1 << p
    val regs = new Array[Int](m)
    keys.distinct.foreach { x =>
      val h = Hll.hash64(x)
      val b = Hll.bucket(h, p); val r = Hll.rho(h, p)
      if (r > regs(b)) regs(b) = r
    }
    regs
  }

  test("sketch of a union equals elementwise max of the part sketches") {
    val a = (1L to 5000L).toSeq
    val b = (2500L to 9000L).toSeq
    val ra = regsOf(a, 10); val rb = regsOf(b, 10)
    val merged = ra.zip(rb).map { case (x, y) => math.max(x, y) }
    assert(merged.toSeq == regsOf(a ++ b, 10).toSeq)
    // and the distributed aggregate agrees with the model
    graft.GraftSession.register(spark)
    val df = (a ++ b).toDF("x").repartition(8)
    val got = df.selectExpr("hll_sketch(x, 10) AS r")
      .selectExpr("r").as[Seq[Int]].head()
    assert(got == merged.toSeq)
  }

  test("estimate accuracy: within 5% at p=12 over 100k mixed keys") {
    val rnd = new Random(3)
    val keys = (1L to 60000L) ++ (0 until 40000).map(_ => rnd.nextLong())
    val n = keys.distinct.size
    val est = Hll.estimate(regsOf(keys, 12))
    assert(math.abs(est.toDouble / n - 1.0) < 0.05,
      s"est $est vs true $n")
  }

  test("small-range linear counting kicks in and stays deterministic") {
    // 100 distinct at p=12: raw is biased high-m-low-n; the correction
    // must fire (zero registers present, raw <= 2.5m) and land close.
    val keys = (1L to 100L).toSeq
    val regs = regsOf(keys, 12)
    val raw = Hll.rawEstimate(regs)
    assert(regs.count(_ == 0) > 0 && raw * 2 <= BigInt(5) * 4096)
    val est = Hll.estimate(regs)
    assert(math.abs(est.toDouble / 100 - 1.0) < 0.05, s"lc est $est")
  }

  test("SQL surface: zip_with-merged day sketches match the total") {
    graft.GraftSession.register(spark)
    val day1 = (1L to 3000L).map(("d1", _))
    val day2 = (2000L to 6000L).map(("d2", _))
    (day1 ++ day2).toDF("day", "x").createOrReplaceTempView("hits")
    // per-day sketches persisted, then merged without rescanning
    val merged = spark.sql(
      """WITH per_day AS (
        |  SELECT day, hll_sketch(x, 8) AS r FROM hits GROUP BY day)
        |SELECT hll_estimate(aggregate(collect_list(r),
        |  array_repeat(0, 256),
        |  (acc, r) -> zip_with(acc, r, (a, b) -> greatest(a, b)))) AS est
        |FROM per_day""".stripMargin).as[Long].head()
    val direct = spark.sql(
      "SELECT hll_estimate(hll_sketch(x, 8)) FROM hits").as[Long].head()
    assert(merged == direct)
    val trueN = (day1 ++ day2).map(_._2).distinct.size
    assert(math.abs(merged.toDouble / trueN - 1.0) < 0.15)
  }

  test("serialization roundtrip and null handling") {
    val agg = SketchAggregate.partial(HllKind(8),
      org.apache.spark.sql.catalyst.expressions.Literal(1L))
    val buf = regsOf((1L to 500L).toSeq, 8)
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    graft.GraftSession.register(spark)
    val withNulls = Seq[Option[Long]](Some(1L), None, Some(2L), None)
      .toDF("x")
    val got = withNulls.selectExpr("hll_sketch(x, 8) AS r")
      .selectExpr("r").as[Seq[Int]].head()
    assert(got == regsOf(Seq(1L, 2L), 8).toSeq)
  }

  test("precision out of range is rejected at construction") {
    graft.GraftSession.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT hll_sketch(x, 2) FROM VALUES (1L) t(x)").collect()
    }
    assert(e.getMessage.contains("precision"))
  }

  test("string keys are hashed, not null-cast away: the estimate " +
      "tracks the true distinct count and differs per value") {
    graft.GraftSession.register(spark)
    val n = 5000
    val df = (1 to n).map(i => s"user-$i").toDF("name")
    val est = df.selectExpr("hll_estimate(hll_sketch(name, 10)) AS e")
      .as[Long].head()
    assert(math.abs(est.toDouble / n - 1.0) < 0.10,
      s"string-key estimate $est vs true $n (r9 returned ~0)")
    // int and string forms hash differently but both count correctly
    val estDup = (1 to n).flatMap(i => Seq(s"u$i", s"u$i")).toDF("name")
      .selectExpr("hll_estimate(hll_sketch(name, 10))").as[Long].head()
    assert(math.abs(estDup.toDouble / n - 1.0) < 0.10)
    // non-hashable key types are rejected at analysis, not silently cast
    val e = intercept[Exception] {
      spark.sql("SELECT hll_sketch(x, 8) FROM VALUES (array(1.0)) t(x)")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("integral") ||
      e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("small register counts use the paper's alpha constants: p=4..6 " +
      "raw estimates stay within the advertised error band") {
    // at p=5 (m=32) the asymptotic alpha overestimates by ~4-5%; the
    // 0.697 constant must bring mid-range cardinalities back inside
    // ~2 sigma (1.04/sqrt(32) ≈ 18%) — and typically well inside
    for (p <- 4 to 6) {
      val m = 1 << p
      // cardinality safely above the linear-counting range (2.5 m)
      val n = 40 * m
      val est = Hll.estimate(regsOf((1L to n.toLong).toSeq, p))
      val err = math.abs(est.toDouble / n - 1.0)
      assert(err < 2.1 * 1.04 / math.sqrt(m.toDouble),
        s"p=$p est $est vs true $n (err $err)")
    }
    // the estimator remains integer-deterministic: same keys, same value
    val a = Hll.estimate(regsOf((1L to 640L).toSeq, 4))
    val b = Hll.estimate(regsOf((1L to 640L).toSeq, 4))
    assert(a == b)
  }

  test("hll_merge aggregate: merges register rows by elementwise max, " +
      "skips nulls, rejects mixed widths") {
    graft.GraftSession.register(spark)
    val a = (1L to 3000L).toSeq
    val b = (2000L to 7000L).toSeq
    val parts = Seq(regsOf(a, 8).toSeq, regsOf(b, 8).toSeq)
      .toDF("r")
    val merged = parts.selectExpr("hll_merge(r) AS m")
      .as[Seq[Int]].head()
    assert(merged == regsOf(a ++ b, 8).toSeq)
    // null rows are skipped
    val withNull = (Seq(regsOf(a, 8).toSeq).map(Option(_)) :+
      Option.empty[Seq[Int]]).toDF("r")
    assert(withNull.selectExpr("hll_merge(r)").as[Seq[Int]].head()
      == regsOf(a, 8).toSeq)
    // an all-null group yields null (no register width to invent)
    val allNull = Seq(Option.empty[Seq[Int]]).toDF("r")
    assert(allNull.selectExpr("hll_merge(r)").head().isNullAt(0))
    // widths from different precisions refuse to merge
    val mixed = Seq(regsOf(a, 8).toSeq, regsOf(a, 10).toSeq).toDF("r")
    val e = intercept[Exception] {
      mixed.selectExpr("hll_merge(r)").collect()
    }
    assert(e.getMessage.contains("width") ||
      Option(e.getCause).exists(_.getMessage.contains("width")))
  }
}
