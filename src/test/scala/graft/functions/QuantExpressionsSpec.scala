package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions => V}

/** Pins the round-14 UDF→expression conversions (PqAdcScore, PqDecode,
  * SplitNearestCentroid, RvqEncode/RvqDecode) bit-for-bit against the
  * boxed-Seq UDF logic they replaced, on randomized inputs — the
  * same-arithmetic guarantee the oracle faces rely on, checked at the
  * expression level so a drift is caught before it reaches a face.
  */
class QuantExpressionsSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(1234)
  private def fvec(d: Int): Array[Float] =
    Array.fill(d)(rnd.nextFloat() * 4f - 2f)

  test("PqAdcScore == the interpreted LUT-sum UDF it replaced") {
    val splits = 3
    val lut: Seq[Seq[Double]] =
      Seq.fill(splits)(Seq.fill(256)(rnd.nextDouble() * 10))
    // codes cover the u8 wrap: values above 127 stored as negative bytes
    val codes: Seq[Seq[Byte]] = Seq(
      Seq(0, 1, 255).map(_.toByte), Seq(200, 127, 128).map(_.toByte),
      Seq(7, 250, 99).map(_.toByte))
    val df = codes.map(c => (lut, c)).toDF("lut", "codes")
      .select(col("lut"), col("codes").cast("array<tinyint>").as("codes"))
    val got = df.select(V.col(PqAdcScore(
      V.expr(col("lut")), V.expr(col("codes"))))).as[Double].collect()
    val want = codes.map { c =>
      var acc = 0.0; var s = 0
      while (s < c.length) { acc += lut(s)(c(s) & 0xff); s += 1 }
      acc
    }
    assert(got.toSeq == want)
  }

  test("PqAdcScore fails loudly on a null LUT row, LUT entry or code " +
      "element, with whole-stage codegen on and off") {
    val lutRow = "array(0.5D, 1.5D, 2.5D)"
    // `id >= 0` keeps each input non-foldable, so it is evaluated in
    // the query's projection rather than constant-folded at planning
    def score(lut: String, codes: String): Array[Double] =
      spark.range(2).select(V.col(PqAdcScore(
        V.expr(expr(s"if(id >= 0, $lut, null)")),
        V.expr(expr(s"if(id >= 0, cast($codes as array<tinyint>), null)")))))
        .as[Double].collect()
    val modes = Seq(
      Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "FALLBACK"),
      Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (mode <- modes) {
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // containsNull types with no null present still score
        assert(score(s"array($lutRow, $lutRow)", "array(1, 2)").toSeq ===
          Seq(4.0, 4.0), mode)
        for ((lut, codes) <- Seq(
            (s"array($lutRow, null)", "array(1, 2)"),
            (s"array($lutRow, array(0.5D, 1.5D, null))", "array(1, 2)"),
            (s"array($lutRow, $lutRow)", "array(1, null)"))) {
          val e = intercept[Exception](score(lut, codes))
          val root = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).toSeq.last
          assert(root.isInstanceOf[IllegalArgumentException] &&
            root.getMessage.contains("pq_adc_score: null"),
            s"$mode $lut $codes: $e")
        }
      } finally mode.keys.foreach(spark.conf.unset)
    }
  }

  test("PqDecode == the centroid-concat UDF it replaced (u8 wrap, " +
      "null propagation)") {
    val cb = new FloatCubeParam(
      Array.fill(2)(Array.fill(256)(fvec(3))))
    val codes: Seq[Seq[Byte]] =
      Seq(Seq(0, 255).map(_.toByte), Seq(130, 64).map(_.toByte))
    val df = (codes.map(Option(_)) :+ None).toDF("codes")
      .select(col("codes").cast("array<tinyint>").as("codes"))
    val got = df.select(V.col(PqDecode(V.expr(col("codes")), cb)))
      .as[Option[Array[Float]]].collect()
    val want = codes.map { c =>
      val out = Array.newBuilder[Float]
      c.zipWithIndex.foreach { case (b, s) => out ++= cb.splits(s)(b & 0xff) }
      Some(out.result())
    } :+ None
    assert(got.length == want.length)
    got.zip(want).foreach {
      case (Some(g), Some(w)) => assert(g.toSeq == w.toSeq)
      case (g, w) => assert(g.isEmpty == w.isEmpty)
    }
  }

  test("SplitNearestCentroid == nearestCentroid per split (in-order " +
      "double accumulation, lowest-index ties)") {
    val cb = Array.tabulate(2)(_ => Array.fill(5)(fvec(4)))
    // include an exact tie: centroid 3 duplicates centroid 1 in split 0
    cb(0)(3) = cb(0)(1)
    val cbTie = new FloatCubeParam(cb)
    val rows = for (s <- 0 until 2; _ <- 0 until 20)
      yield (s, fvec(4))
    val tieRow = (0, cb(0)(1).clone()) // distance 0 to both 1 and 3
    val df = (rows :+ tieRow).toDF("split_id", "subvec")
    val got = df.select(V.col(SplitNearestCentroid(
        V.expr(col("split_id")), V.expr(col("subvec")),
        cbTie))).as[Int].collect()
    val want = (rows :+ tieRow).map { case (s, v) =>
      graft.operators.ProductQuantizer.nearestCentroid(cb(s), v)
    }
    assert(got.toSeq == want)
    assert(got.last == 1, "tie must break to the lowest index")
  }

  test("RvqEncode/RvqDecode == ResidualQuantizer.encode + the decode " +
      "UDF they replaced") {
    val lvArr = Array.fill(3)(Array.fill(4)(
      Array.fill(5)(rnd.nextDouble() * 2 - 1)))
    val lv = new DoubleCubeParam(lvArr)
    val vecs = Seq.fill(10)(Array.fill(5)(rnd.nextDouble() * 2 - 1))
    val df = vecs.toDF("v")
    val codes = df.select(V.col(RvqEncode(V.expr(col("v")), lv)))
      .as[Array[Int]].collect()
    val wantCodes = vecs.map(v =>
      graft.operators.ResidualQuantizer.encode(lvArr, v))
    codes.zip(wantCodes).foreach { case (g, w) =>
      assert(g.toSeq == w.toSeq) }
    val dec = codes.toSeq.map(c => Tuple1(c)).toDF("codes")
      .select(V.col(RvqDecode(V.expr(col("codes")), lv)))
      .as[Array[Double]].collect()
    val wantDec = codes.map { c =>
      val out = new Array[Double](5)
      c.zipWithIndex.foreach { case (ci, l) =>
        val cen = lvArr(l)(ci)
        var i = 0
        while (i < out.length) { out(i) += cen(i); i += 1 }
      }
      out
    }
    dec.zip(wantDec).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("model-param expressions are structurally equal (semanticEquals " +
      "across separately-built instances)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    // pre-analysis Column children carry stacktrace Origins (reference-
    // unequal by design); what Catalyst subexpression elimination and
    // exchange reuse compare are RESOLVED expressions, so the check
    // that matters is over a shared resolved child + separately-built
    // model params (r13's Array params made these never-equal)
    val child = Literal(new GenericArrayData(Array(1f, 2f)),
      ArrayType(FloatType, containsNull = false))
    def build() = NearestCentroid(child,
      new FloatMatrixParam(Array(Array(1f, 2f), Array(3f, 4f))))
    assert(build() == build() && build().semanticEquals(build()),
      "NearestCentroid must compare structurally for subexpression " +
        "elimination / exchange reuse")
    def pq() = PqEncode(child,
      new FloatCubeParam(Array(Array(Array(1f, 2f)))), IndexedSeq(0))
    assert(pq() == pq() && pq().semanticEquals(pq()))
  }
}
