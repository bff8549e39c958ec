package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Integer-grid priority sampling (PrioritySample.scala): weighted
  * inclusion, determinism across partitionings, shard-merge equality,
  * bounded plan shape, and the null/zero-weight contract.
  */
class PrioritySampleSpec extends SparkSuite {
  import spark.implicits._

  private def docs = (1L to 20000L)
    .map(i => (i, if (i % 10 == 0) 900L else 100L)) // 10% heavy rows
    .toDF("id", "w")

  test("inclusion probability tracks weight (9x weight -> ~9x rate)") {
    val got = PrioritySample.sample(docs, $"id", $"w", 2000)
      .collect().map(r => r.getLong(1))
    val heavy = got.count(_ == 900L).toDouble
    val light = got.count(_ == 100L).toDouble
    // expected heavy share: 2000*900/(2000*900+18000*100) = 0.5 of
    // total WEIGHT; counts: heavy rows are 1/10 of rows at 9x weight
    // -> heavy/light count ratio ~ (2000*900)/(18000*100) = 1.0
    val ratio = heavy / light
    assert(ratio > 0.7 && ratio < 1.4,
      s"heavy=$heavy light=$light ratio=$ratio (want ~1.0)")
  }

  test("deterministic: repartitioned and reversed inputs draw the " +
      "IDENTICAL sample, in the same order") {
    val a = PrioritySample.sample(docs, $"id", $"w", 100)
      .collect().map(_.getLong(0)).toSeq
    val b = PrioritySample.sample(docs.repartition(13), $"id", $"w", 100)
      .collect().map(_.getLong(0)).toSeq
    val c = PrioritySample.sample(docs.orderBy($"id".desc), $"id", $"w",
      100).collect().map(_.getLong(0)).toSeq
    assert(a == b && a == c)
  }

  test("shard-merge equality: top-k over shard top-ks == global top-k") {
    val global = PrioritySample.sample(docs, $"id", $"w", 64)
      .collect().map(_.getLong(0)).toSet
    val shards = (0 until 4).map(m =>
      PrioritySample.sample(docs.where($"id" % 4 === m), $"id", $"w", 64))
    val merged = PrioritySample.sample(
      shards.reduce(_ union _), $"id", $"w", 64)
      .collect().map(_.getLong(0)).toSet
    assert(merged == global)
  }

  test("plans as TakeOrderedAndProject (bounded top-k, no global sort)") {
    val q = PrioritySample.sample(docs, $"id", $"w", 64)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("TakeOrderedAndProject"), physical)
  }

  test("null and non-positive weights are excluded; SQL surface " +
      "agrees with the DataFrame helper") {
    graft.GraftSession.register(spark)
    val d = Seq((1L, Option(10L)), (2L, Option(0L)), (3L, Option(-5L)),
      (4L, Option.empty[Long]), (5L, Option(10L)))
      .toDF("id", "w")
    val got = PrioritySample.sample(d, $"id", $"w", 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 5L))
    d.createOrReplaceTempView("prio_in")
    val sqlIds = spark.sql(
      """SELECT id FROM prio_in WHERE priority_key(id, w) IS NOT NULL
        |ORDER BY priority_key(id, w), id LIMIT 10""".stripMargin)
      .collect().map(_.getLong(0)).toSet
    assert(sqlIds == got)
  }

  test("key formula matches the documented integer grid") {
    val u = BigInt(Hll.hash64(42L)) & ((BigInt(1) << 64) - 1)
    val want = (u << 20) / 7L
    assert(BigInt(PrioritySample.key(Hll.hash64(42L), 7L)
      .toBigInteger) == want)
  }
}
