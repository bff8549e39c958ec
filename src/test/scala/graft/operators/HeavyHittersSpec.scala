package graft.operators

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.functions._

class HeavyHittersSpec extends SparkSuite {
  import spark.implicits._

  test("MgBuffer streaming path: guarantee holds under heavy eviction") {
    // 10k distinct items, capacity 64 — constant eviction. Planted
    // heavy items each have freq > N/(capacity+1), so every one must
    // survive the sketch.
    val rnd = new Random(7)
    val heavy = (0 until 8).flatMap(i => Seq.fill(2000)(s"hh_$i"))
    val tail = (0 until 30000).map(_ => s"t_${rnd.nextInt(10000)}")
    val stream = rnd.shuffle(heavy ++ tail)
    val buf = new MgBuffer(64)
    stream.foreach(buf.update)
    val kept = buf.counts.keySet
    (0 until 8).foreach(i => assert(kept.contains(s"hh_$i"),
      s"hh_$i evicted despite freq 2000 > N/(m+1)=${stream.size / 65}"))
    assert(buf.counts.size <= 64)
    // undercount bound: estimate >= true - N/(m+1)
    val floor = 2000L - stream.size / 65
    (0 until 8).foreach(i => assert(buf.counts(s"hh_$i") >= floor))
  }

  test("MgBuffer merge path: summing + cut keeps the mergeable bound") {
    val rnd = new Random(11)
    def mk(seed: Int): (MgBuffer, Seq[String]) = {
      val r = new Random(seed)
      val items = (0 until 4).flatMap(i => Seq.fill(500)(s"hh_$i")) ++
        (0 until 5000).map(_ => s"t${seed}_${r.nextInt(3000)}")
      val b = new MgBuffer(64)
      r.shuffle(items).foreach(b.update)
      (b, items)
    }
    val (b1, i1) = mk(1); val (b2, i2) = mk(2); val (b3, i3) = mk(3)
    b1.mergeFrom(b2); b1.mergeFrom(b3)
    val n = (i1 ++ i2 ++ i3).size
    // each hh_i has true freq 1500 > N/(m+1) ≈ n/65 ⇒ must survive
    (0 until 4).foreach(i => assert(b1.counts.contains(s"hh_$i")))
    assert(b1.counts.size <= 64)
    (0 until 4).foreach(i => assert(b1.counts(s"hh_$i") >= 1500L - n / 65))
  }

  test("topK equals exact groupBy top-k under distributed eviction") {
    // zipf-ish: item z_i has frequency ~ 6000/(i+1); 600 distinct,
    // capacity 128 < distinct so partials evict and merges cut. The
    // top-10 items have freq >= 546 > N/(m+1), so two-pass is exact.
    val rows = (0 until 600).flatMap { i =>
      Seq.fill(6000 / (i + 1))(s"z_$i")
    }
    val df = spark.sparkContext.parallelize(rows, 16).toDF("item")
    val got = HeavyHitters.topK(df, "item", k = 10, capacity = 128)
      .as[(String, Long)].collect()
    val want = df.groupBy($"item").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"item").limit(10)
      .as[(String, Long)].collect()
    assert(got.toSeq === want.toSeq)
    assert(got.head._1 === "z_0" && got.head._2 === 6000L)
  }

  test("topK at capacity 65536: the candidate prune is a broadcast " +
      "semi-join, not a 65536-arm IN expression") {
    // more distinct items than fit pre-eviction in a small sketch, but
    // well under 65536 — the recount join carries the full candidate
    // set and must stay a plan Spark can build and execute
    val rows = (0 until 20000).flatMap(i => Seq.fill(1 + i % 3)(s"b_$i"))
    val df = spark.sparkContext.parallelize(rows, 16).toDF("item")
    val out = HeavyHitters.topK(df, "item", k = 5, capacity = 65536)
    val plan = out.queryExecution.executedPlan.toString
    assert("(?i)broadcast.*leftsemi|leftsemi.*broadcast".r
      .findFirstIn(plan).isDefined, s"no broadcast semi-join:\n$plan")
    assert(!plan.contains(" IN ("), s"literal IN list survived:\n$plan")
    val got = out.as[(String, Long)].collect()
    val want = df.groupBy($"item").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"item").limit(5).as[(String, Long)].collect()
    assert(got.toSeq === want.toSeq)
  }

  test("mg_sketch / sketch_topk are usable straight from SQL") {
    graft.GraftSession.register(spark)
    (0 until 500).map(i => s"w_${i % 20}").toDF("item")
      .createOrReplaceTempView("hh_items")
    // capacity 256 > 20 distinct items -> estimates are exact counts
    val top = spark.sql(
      "SELECT explode(sketch_topk(item, 3, 256)) AS e FROM hh_items")
      .selectExpr("e.item", "e.est").as[(String, Long)].collect()
    assert(top.length === 3)
    assert(top.forall(_._2 === 25L), top.mkString(", "))
    assert(top.map(_._1).toSeq === Seq("w_0", "w_1", "w_10")) // tie: item asc
    val full = spark.sql(
      "SELECT size(mg_sketch(item, 256)) AS n FROM hh_items")
      .head.getInt(0)
    assert(full === 20)
    // k/capacity parameterize the sketch: non-literals are rejected
    intercept[Exception](spark.sql(
      "SELECT sketch_topk(item, CAST(rand() * 3 AS INT), 64) FROM hh_items"))
    // non-string items are cast, not class-cast-crashed: ints sketch
    // by their textual value
    val ints = spark.sql(
      "SELECT explode(sketch_topk(length(item), 1, 64)) AS e FROM hh_items")
      .selectExpr("e.item", "e.est").as[(String, Long)].collect()
    // 250x length-3 ("w_0".."w_9") vs 250x length-4; tie broken item asc
    assert(ints.toSeq === Seq(("3", 250L)), ints.mkString(", "))
  }

  test("sketch aggregate plans a partial before the shuffle") {
    val df = (0 until 1000).map(i => s"w_${i % 50}").toDF("item")
      .repartition(8)
    val plan = df.select(HeavyHitters.mg_sketch($"item", 64))
      .queryExecution.executedPlan.toString
    // partial + final aggregate pair, not a single global collect
    assert(plan.contains("mg_sketch"))
    assert("(?i)partial".r.findFirstIn(plan).isDefined, plan)
  }
}
