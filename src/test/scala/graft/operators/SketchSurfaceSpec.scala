package graft.operators

import graft.SparkSuite
import graft.plans.SummaryRewrite
import graft.plans.SummaryRewrite._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/** Pins the SQL surface of the sketch aggregates: for each of the 14
  * SQL aggregate names, plus the rollup-only vector sum, the result
  * type and nullability, the auto-generated column name, the values,
  * the all-null-group result and the type-check and width-mismatch
  * messages. The base frame is spread over 8 partitions, so every
  * partial buffer crosses the shuffle through its codec.
  */
class SketchSurfaceSpec extends SparkSuite {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private val rows = (0 until 4000).map { i =>
    (i.toLong, rnd.nextInt(300).toLong, s"w${rnd.nextInt(40)}",
      rnd.nextDouble() * 100, s"g${i % 5}",
      Array.fill(3)(rnd.nextFloat()))
  }

  private lazy val base: DataFrame = {
    val df = rows.toDF("id", "k", "s", "x", "g", "v")
      .withColumn("nk", lit(null).cast("bigint"))
      .withColumn("ns", lit(null).cast("string"))
      .withColumn("nx", lit(null).cast("double"))
      .repartition(8)
    df.createOrReplaceTempView("sk_base")
    df
  }

  // per-group partials, spread over 8 partitions for the merge forms
  private lazy val partials: DataFrame = {
    base
    val df = spark.sql(
      """SELECT g, hll_sketch(k, 8) AS hll, kmv_sketch(s, 64) AS kmv,
        |  mg_sketch(s, 64) AS mg, hist_sketch(x, 0, 100, 16) AS hist,
        |  hdr_sketch(k, 3) AS hdr, cms_sketch(k, 2, 32) AS cms,
        |  sample_sketch(id, x, 64) AS smp
        |FROM sk_base GROUP BY g""".stripMargin).repartition(8)
      .withColumn("nhll", lit(null).cast("array<int>"))
      .withColumn("nlongs", lit(null).cast("array<bigint>"))
      .withColumn("nmg", lit(null).cast(
        "array<struct<item:string,est:bigint>>"))
      .withColumn("nsmp", lit(null).cast(
        "struct<hs:array<bigint>,vs:array<double>>"))
    df.createOrReplaceTempView("sk_parts")
    df
  }

  /** A stable fingerprint of a collected value. */
  private def digest(v: Any): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(String.valueOf(v).getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }

  private val longs = ArrayType(LongType, containsNull = false)
  private val ints = ArrayType(IntegerType, containsNull = false)
  private val mgType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("est", LongType, nullable = false))), containsNull = false)
  private val smpType = StructType(Seq(
    StructField("hs", longs, nullable = false),
    StructField("vs", ArrayType(DoubleType, containsNull = false),
      nullable = false)))
  private val sumType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(DoubleType, containsNull = false))))

  /** One SQL aggregate: the call over the data, its expected column
    * name, type, nullability and value fingerprint, and the same call
    * over an all-null input with the value it yields.
    */
  case class Face(call: String, view: String, name: String,
      dataType: DataType, nullable: Boolean, digest: String,
      allNullCall: String, allNull: Any)

  private def zeros(n: Int) = Seq.fill(n)(0L)

  private val faces = Seq(
    Face("hll_sketch(k, 8)", "sk_base", "hll_sketch(k)", ints, false,
      "f33d05c8ff0cd0dd", "hll_sketch(nk, 8)", Seq.fill(256)(0)),
    Face("kmv_sketch(s, 64)", "sk_base", "kmv_sketch(s)", longs, false,
      "4c0ac3f63c03f714", "kmv_sketch(ns, 64)", Seq()),
    Face("mg_sketch(s, 64)", "sk_base", "mg_sketch(s)", mgType, false,
      "ccf784db129c70cc", "mg_sketch(ns, 64)", Seq()),
    Face("sketch_topk(s, 5, 64)", "sk_base", "sketch_topk(s)", mgType,
      false, "a92f2bdb1b207661", "sketch_topk(ns, 5, 64)", Seq()),
    Face("hist_sketch(x, 0, 100, 16)", "sk_base", "hist_sketch(x)", longs,
      false, "911ed328c2b3a60b", "hist_sketch(nx, 0, 100, 16)", zeros(16)),
    Face("hdr_sketch(k, 3)", "sk_base", "hdr_sketch(k)", longs, false,
      "ce413c8cecd31ede", "hdr_sketch(nk, 3)", zeros(Hdr.nBuckets(3))),
    Face("cms_sketch(k, 2, 32)", "sk_base", "cms_sketch(k)", longs, false,
      "77c0d4517b24f158", "cms_sketch(nk, 2, 32)", zeros(64)),
    Face("sample_sketch(id, x, 64)", "sk_base", "sample_sketch(id, x)",
      smpType, true, "48f945a1dbe30322", "sample_sketch(id, nx, 64)", null),
    Face("hll_merge(hll)", "sk_parts", "hll_merge(hll)", ints, true,
      "f33d05c8ff0cd0dd", "hll_merge(nhll)", null),
    Face("kmv_merge(kmv, 64)", "sk_parts", "kmv_merge(kmv)", longs, true,
      "4c0ac3f63c03f714", "kmv_merge(nlongs, 64)", null),
    Face("mg_merge(mg, 64)", "sk_parts", "mg_merge(mg)", mgType, false,
      "ccf784db129c70cc", "mg_merge(nmg, 64)", Seq()),
    Face("mg_merge_topk(mg, 5, 64)", "sk_parts", "mg_merge(mg)", mgType,
      false, "a92f2bdb1b207661", "mg_merge_topk(nmg, 5, 64)", Seq()),
    Face("hist_merge(hist)", "sk_parts", "hist_merge(hist)", longs, true,
      "911ed328c2b3a60b", "hist_merge(nlongs)", null),
    // HDR and count-min sketches fold with hist_merge too
    Face("hist_merge(hdr)", "sk_parts", "hist_merge(hdr)", longs, true,
      "ce413c8cecd31ede", "hist_merge(nlongs)", null),
    Face("hist_merge(cms)", "sk_parts", "hist_merge(cms)", longs, true,
      "77c0d4517b24f158", "hist_merge(nlongs)", null),
    Face("sample_merge(smp, 64)", "sk_parts", "sample_merge(smp)",
      smpType, true, "48f945a1dbe30322", "sample_merge(nsmp, 64)", null))

  private def plain(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(plain).toSeq
    case r: Row => r.toSeq.map(plain)
    case other => other
  }

  /** The messages along an exception's cause chain. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")

  private def failure(run: => Any): String =
    messages(intercept[Exception] { run })

  test("the 14 SQL sketch aggregates keep their names, types, " +
      "nullability, values and all-null results") {
    base; partials
    faces.foreach { f =>
      val df = spark.sql(s"SELECT ${f.call} FROM ${f.view}")
      val field = df.schema.head
      assert(field.name == f.name, f.call)
      assert(field.dataType == f.dataType, f.call)
      assert(field.nullable == f.nullable, f.call)
      assert(digest(plain(df.head().get(0))) == f.digest, f.call)
      val empty = spark.sql(s"SELECT ${f.allNullCall} FROM ${f.view}")
      assert(plain(empty.head().get(0)) == f.allNull, f.allNullCall)
    }
  }

  test("the sketch aggregates keep their type-check and parameter " +
      "messages") {
    base; partials
    val cases = Seq(
      "hll_sketch(v, 8)" ->
        "hll_sketch requires an integral or string key, got array<float>",
      "kmv_sketch(x, 64)" ->
        "kmv_sketch requires an integral or string key, got double",
      "hist_sketch(s, 0, 100, 16)" ->
        "hist_sketch requires a numeric value, got string",
      "hdr_sketch(x, 3)" -> ("hdr_sketch requires an integral value " +
        "(cast floats to a fixed grid first — the sketch is " +
        "integer-exact), got double"),
      "cms_sketch(x, 2, 32)" ->
        "cms_sketch requires an integral key, got double",
      "sample_sketch(x, x, 64)" ->
        "sample_sketch requires an integral or string id, got double",
      "hll_merge(hist)" ->
        "hll_merge requires ARRAY<INT> registers, got array<bigint>",
      "kmv_merge(hll, 64)" ->
        "kmv_merge requires an ARRAY<BIGINT> sketch, got array<int>",
      "mg_merge(hist, 64)" -> ("mg_merge requires ARRAY<STRUCT<item: " +
        "STRING, est: BIGINT>> summaries, got array<bigint>"),
      "mg_merge_topk(hist, 5, 64)" -> ("mg_merge requires ARRAY<STRUCT<" +
        "item: STRING, est: BIGINT>> summaries, got array<bigint>"),
      "hist_merge(hll)" ->
        "hist_merge requires ARRAY<BIGINT> counts, got array<int>",
      "sample_merge(hist, 64)" -> ("sample_merge requires a STRUCT(hs " +
        "ARRAY<BIGINT>, vs ARRAY<DOUBLE>) sketch, got array<bigint>"),
      "hll_sketch(k, 2)" -> "precision must be in [4, 16], got 2",
      "kmv_sketch(s, 1)" -> "kmv_sketch: k must be in [2, 1048576], got 1",
      "kmv_merge(kmv, 1)" -> "kmv_merge: k must be in [2, 1048576], got 1",
      "mg_sketch(s, 0)" -> "capacity must be positive",
      "sketch_topk(s, 0, 64)" -> "k must be positive",
      "mg_merge(mg, 0)" -> "capacity must be positive",
      "mg_merge_topk(mg, 0, 64)" -> "k must be positive",
      "hist_sketch(x, 1, 0, 16)" -> "need lo < hi, got [1.0, 0.0]",
      "hist_sketch(x, 0, 100, 0)" -> "nbins must be in [1, 65536], got 0",
      "hdr_sketch(k, 9)" -> "sub-bucket bits p must be in [1, 8], got 9",
      "cms_sketch(k, 7, 32)" -> "depth d must be in [1, 6], got 7",
      "cms_sketch(k, 2, 1)" -> "width w must be in [2, 2^20], got 1",
      "sample_sketch(id, x, 1)" ->
        "sample_sketch: k must be in [2, 1048576], got 1",
      "sample_merge(smp, 1)" ->
        "sample_merge: k must be in [2, 1048576], got 1")
    cases.foreach { case (call, msg) =>
      val view = if (call.contains("merge")) "sk_parts" else "sk_base"
      val got = failure(spark.sql(s"SELECT $call FROM $view").collect())
      assert(got.contains(msg), s"$call: $got")
    }
  }

  test("the dense merges refuse a second width, naming both") {
    val regs = Seq(Seq.fill(16)(0), Seq.fill(32)(0)).toDF("r").coalesce(1)
    assert(failure(regs.selectExpr("hll_merge(r)").collect()).contains(
      "hll_merge: register widths differ (16 vs 32) — sketches built at " +
        "different precisions cannot merge"))
    val counts = Seq(Seq(1L, 2L), Seq(1L, 2L, 3L)).toDF("c").coalesce(1)
    assert(failure(counts.selectExpr("hist_merge(c)").collect()).contains(
      "hist_merge: bin widths differ (2 vs 3) — histograms with " +
        "different bin counts cannot merge"))
  }

  test("the rollup vector sum keeps its type, values and all-null " +
      "result through the partial and the merge") {
    base
    val vs = VecSpec("v")
    val withNull = base.withColumn("nv", lit(null).cast("array<float>"))
    val roll = SummaryRewrite.partialRollup(withNull, Seq("g"), Nil,
      sketches = Seq(vs, VecSpec("nv"))).repartition(8)
    Seq("vsum_v", "vsum_nv").foreach { c =>
      assert(roll.schema(c).dataType == sumType, c)
      assert(roll.schema(c).nullable, c)
    }
    def merged(c: String) = roll.agg(GraftShims.column(vs.merge(
      GraftShims.expression(col(c))).toAggregateExpression()).as("m"))
    assert(merged("vsum_v").schema("m").dataType == sumType)
    assert(merged("vsum_v").schema("m").nullable)
    val want = rows.map(_._6).transpose.map(_.map(_.toDouble).sum)
    val groups = roll.select("g", "vsum_v.n", "vsum_v.sums").collect()
    assert(groups.map(_.getLong(1)).sorted.toSeq == Seq.fill(5)(800L))
    val m = merged("vsum_v").head().getStruct(0)
    assert(m.getLong(0) == 4000L)
    m.getSeq[Double](1).zip(want).foreach { case (got, w) =>
      assert(math.abs(got - w) <= 1e-9 * math.abs(w), s"$got vs $w")
    }
    assert(roll.select("vsum_nv").collect().forall(_.isNullAt(0)))
    assert(merged("vsum_nv").head().isNullAt(0))
    // stored partials of two widths refuse to fold
    val ragged = Seq((1L, Seq(1.0, 2.0)), (1L, Seq(1.0, 2.0, 3.0)))
      .toDF("n", "sums").select(struct($"n", $"sums").as("vsum_v"))
      .coalesce(1)
    assert(failure(ragged.agg(GraftShims.column(vs.merge(
      GraftShims.expression(col("vsum_v"))).toAggregateExpression()))
      .collect()).contains("ragged vector partials: got dimension 3 after 2"))
  }

  test("a rollup carrying all eight sketch kinds keeps its column " +
      "names, types and nullability") {
    base
    val sketches = Seq(SketchSpec("k"), HistSpec("x", 0, 100, 16),
      ItemsSpec("s", 64), KmvSpec("s", 64), VecSpec("v"),
      SampleQSpec("id", "x", 64), HdrSpec("kh", "k", 3), CmsSpec("k", 2, 32))
    val roll = SummaryRewrite.partialRollup(base, Seq("g"), Seq("x"),
      sketches = sketches)
    val got = roll.schema.fields.map(f => (f.name, f.dataType, f.nullable))
    assert(got.toSeq == Seq(
      ("g", StringType, true), ("cnt", LongType, false),
      ("s_x", DecimalType(38, 6), true), ("sd_x", DoubleType, true),
      ("ss_x", DoubleType, true), ("c_x", LongType, false),
      ("mn_x", DoubleType, true), ("mx_x", DoubleType, true),
      ("hll_k", ints, false), ("hist_x", longs, false),
      ("mg64_s", mgType, false), ("kmv64_s", longs, false),
      ("vsum_v", sumType, true), ("smp64_x", smpType, true),
      ("hdr3_kh", longs, false), ("cms2x32_k", longs, false)))
  }
}
