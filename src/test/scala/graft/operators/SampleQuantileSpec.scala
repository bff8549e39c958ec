package graft.operators

import scala.util.Random

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Bottom-k uniform row-sample quantile sketch (SampleAggregate.scala):
  * determinism (membership is a pure function of the id hashes, so
  * any partitioning / merge order yields the identical sketch),
  * exactness below saturation, accuracy and scale-independence at it,
  * and the SQL surface.
  */
class SampleQuantileSpec extends SparkSuite {
  import spark.implicits._

  private def sketchOf(rows: Seq[(Long, Double)], k: Int)
      : java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val buf = Smp.newBuffer()
    rows.foreach { case (id, v) => Smp.put(buf, k, Hll.hash64(id), v) }
    buf
  }

  private def values(
      buf: java.util.TreeMap[java.lang.Long, java.lang.Double])
      : Seq[Double] = {
    import scala.jdk.CollectionConverters._
    buf.values().asScala.map(_.doubleValue()).toSeq
  }

  test("unsaturated sketch holds every row; quantile is exact") {
    val rows = (1L to 500L).map(i => (i, i.toDouble))
    val buf = sketchOf(rows, 1024)
    assert(buf.size == 500)
    val vs = values(buf).toArray
    // lower order statistic of the FULL data
    assert(Smp.quantile(vs, 0.5) == 250.0)  // floor(0.5*499)=249 -> 250.0
    assert(Smp.quantile(vs, 0.0) == 1.0)
    assert(Smp.quantile(vs, 1.0) == 500.0)
  }

  test("merge order and partitioning never change the sketch") {
    val rnd = new Random(11)
    val rows = (1L to 5000L).map(i => (i, rnd.nextDouble() * 100))
    val whole = sketchOf(rows, 128)
    // fold in three different partitionings / orders
    val byMod = (0 until 7).map(m => sketchOf(rows.filter(_._1 % 7 == m), 128))
    val merged = byMod.foldLeft(Smp.newBuffer())(Smp.mergeInto(_, _, 128))
    val reversed = sketchOf(rows.reverse, 128)
    assert(values(merged) == values(whole))
    assert(values(reversed) == values(whole))
    assert(merged.keySet() == whole.keySet())
  }

  test("saturated quantiles are within O(1/sqrt k) of truth") {
    val rnd = new Random(3)
    val n = 100000
    val rows = (1L to n.toLong).map(i => (i, rnd.nextGaussian()))
    val sorted = rows.map(_._2).sorted
    val buf = sketchOf(rows, 1024)
    assert(buf.size == 1024)
    val vs = values(buf).toArray
    // rank error ~ 1/sqrt(1024) ≈ 3.1%; allow 3 sigma
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val est = Smp.quantile(vs, q)
      val rank = sorted.count(_ <= est).toDouble / n
      assert(math.abs(rank - q) < 0.1, s"q=$q est-rank $rank")
    }
  }

  test("hash-collision combine keeps the min value on either order") {
    val b1 = Smp.newBuffer()
    Smp.put(b1, 4, 42L, 7.0); Smp.put(b1, 4, 42L, 3.0)
    val b2 = Smp.newBuffer()
    Smp.put(b2, 4, 42L, 3.0); Smp.put(b2, 4, 42L, 7.0)
    assert(values(b1) == Seq(3.0) && values(b2) == Seq(3.0))
  }

  test("SQL surface: sketch -> merge -> quantile round-trips") {
    graft.GraftSession.register(spark)
    val df = (1L to 2000L).map(i => (i, (i % 100).toDouble))
      .toDF("id", "v")
    // unsaturated: quantile over the sketch == exact order statistic
    val direct = df
      .agg(expr("sample_sketch(id, v, 4096)").as("sk"))
      .select(expr("sample_n(sk)").as("m"),
        expr("sample_quantile(sk, 0.5)").as("p50"))
      .head()
    assert(direct.getInt(0) == 2000)
    val exact = df.select($"v").as[Double].collect().sorted
      .apply(math.floor(0.5 * 1999).toInt)
    assert(direct.getDouble(1) == exact)
    // per-partition sketches folded with sample_merge == one-shot
    val folded = df.repartition(8)
      .groupBy(($"id" % 4).as("g"))
      .agg(expr("sample_sketch(id, v, 64)").as("sk"))
      .agg(expr("sample_merge(sk, 64)").as("sk"))
      .select(expr("sample_quantile(sk, 0.9)").as("p90"))
      .head().getDouble(0)
    val oneShot = df
      .agg(expr("sample_sketch(id, v, 64)").as("sk"))
      .select(expr("sample_quantile(sk, 0.9)").as("p90"))
      .head().getDouble(0)
    assert(folded == oneShot)
  }

  test("null ids and values are skipped; empty group yields null") {
    graft.GraftSession.register(spark)
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.0), (null, 2.0), (2L, null), (3L, 3.0))
      .toDF("id", "v")
    val row = df.agg(expr("sample_sketch(id, v, 16)").as("sk"))
      .select(expr("sample_n(sk)").as("m"),
        expr("sample_quantile(sk, 1.0)").as("mx"))
      .head()
    assert(row.getInt(0) == 2)
    assert(row.getDouble(1) == 3.0)
    val empty = df.where($"id" > 100)
      .agg(expr("sample_sketch(id, v, 16)").as("sk"))
      .select(expr("sample_quantile(sk, 0.5)").as("p"))
      .head()
    assert(empty.isNullAt(0))
  }
}
