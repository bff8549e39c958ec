package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rollup delete lifecycles (SummaryStream.deleteChunk / retract):
  * plan-shape pins that the values-match faces (q_mv_retention,
  * q_mv_retract) cannot express — WHICH relation each aggregate
  * family scans while a retraction restriction stands, that a
  * refresh rebuild clears it, and that compaction preserves both the
  * net values and the restriction.
  */
class SummaryDeleteSpec extends SparkSuite {
  import spark.implicits._

  private val baseDir = java.nio.file.Files
    .createTempDirectory("graft_del_base").toString + "/fact.parquet"
  private val sumDir = java.nio.file.Files
    .createTempDirectory("graft_del_sum").toString + "/rollup"

  private def allRows = (for {
    f <- Seq("A", "B", "C"); i <- 1 to 40
  } yield (f, s"$f-$i", i.toLong, i * 1.5)).toDF("flag", "id", "k", "v")

  // C rows and every 5th k are doomed; survivors keep A/B minus those
  private def doomed(df: DataFrame) =
    df.where($"flag" === "C" || $"k" % 5 === 0)
  private def survivors(df: DataFrame) =
    df.where(!($"flag" === "C" || $"k" % 5 === 0))

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten

  private def base = spark.read.parquet(baseDir)

  private def register(refresh: Boolean): Unit =
    SummaryRewrite.register(spark, baseDir, sumDir,
      dims = Seq("flag"), measures = Seq("k", "v"),
      refresh = refresh, declaredScale = Map("v" -> 1),
      // k = 64 >= every per-flag row count here: the sample IS the
      // data, so quantile reads below are exact order statistics
      sketches = Seq(SummaryRewrite.SampleQSpec("id", "v", 64)))

  private def sumQuery = base.groupBy($"flag")
    .agg(count(lit(1)).as("n"), sum($"k").as("sk"),
      count($"v").as("nv"), avg($"k").as("ak"),
      round(var_pop($"k"), 6).as("vk"))
    .orderBy($"flag")
  private def minQuery = base.groupBy($"flag")
    .agg(min($"v").as("lo"), max($"v").as("hi")).orderBy($"flag")

  private def truth(df: DataFrame) = df.groupBy($"flag")
    .agg(count(lit(1)).as("n"), sum($"k").as("sk"),
      count($"v").as("nv"), avg($"k").as("ak"),
      round(var_pop($"k"), 6).as("vk"))
    .orderBy($"flag").collect().toSeq

  test("retract: sum family serves NET values from the rollup, the " +
      "all-deleted group vanishes, min/max and distinct fall back") {
    allRows.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
      doomed(allRows), Seq("flag"), Seq("k", "v"), chunk = -2L)
    survivors(allRows).write.mode("overwrite").parquet(baseDir)
    spark.catalog.refreshByPath(baseDir)

    val q = sumQuery
    assert(scanPaths(q).exists(_.contains(sumDir)),
      "sum family must still serve from the rollup under retraction")
    val got = q.collect().toSeq
    assert(got == truth(survivors(allRows)))
    assert(!got.exists(_.getString(0) == "C"),
      "the all-deleted group must be net-count-filtered")

    // non-invertible and row-parity-sensitive shapes fall back
    for (fallback <- Seq(minQuery,
        base.agg(countDistinct($"flag").as("d")),
        base.cube($"flag").agg(sum($"k").as("sk")))) {
      val ps = scanPaths(fallback)
      assert(ps.exists(_.contains(baseDir)) &&
        !ps.exists(_.contains(sumDir)),
        s"expected base fallback, scanned: $ps")
    }
    // and the fallback is CORRECT because the base was rewritten
    assert(minQuery.collect().toSeq ==
      survivors(allRows).groupBy($"flag")
        .agg(min($"v").as("lo"), max($"v").as("hi"))
        .orderBy($"flag").collect().toSeq)
  }

  test("retract: a surviving group whose non-null measure rows were " +
      "all deleted sums to NULL, not 0") {
    // B keeps one row with a NULL v only — its SUM(v) must be null
    val mixed = Seq(("A", "a1", 1L, Option(1.0)),
      ("A", "a2", 2L, Option(2.0)), ("B", "b1", 3L, Option(3.0)),
      ("B", "b2", 4L, Option.empty[Double]))
      .toDF("flag", "id", "k", "v")
    mixed.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    val del = mixed.where($"id" === "b1")
    graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
      del, Seq("flag"), Seq("k", "v"), chunk = -2L)
    mixed.where($"id" =!= "b1").write.mode("overwrite").parquet(baseDir)
    spark.catalog.refreshByPath(baseDir)
    val q = base.groupBy($"flag")
      .agg(sum($"v".cast("decimal(18,1)")).as("sv")).orderBy($"flag")
    assert(scanPaths(q).exists(_.contains(sumDir)))
    val rows = q.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("A", "B"))
    assert(rows(1).isNullAt(1),
      "all non-null v rows of B were deleted -> SUM(v) must be NULL")
  }

  test("compact folds retraction chunks into net partials and " +
      "PRESERVES the restriction; refresh rebuild clears it") {
    allRows.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
      doomed(allRows), Seq("flag"), Seq("k", "v"), chunk = -2L)
    survivors(allRows).write.mode("overwrite").parquet(baseDir)
    spark.catalog.refreshByPath(baseDir)

    graft.streaming.SummaryStream.compact(spark, sumDir, Seq("flag"))
    register(refresh = false) // re-register; marker must survive
    val q = sumQuery
    assert(scanPaths(q).exists(_.contains(sumDir)))
    assert(q.collect().toSeq == truth(survivors(allRows)))
    assert(scanPaths(minQuery).exists(_.contains(baseDir)),
      "compaction must not launder the retraction restriction")

    // a refresh rebuild from the post-delete base restores full serve
    register(refresh = true)
    val mq = minQuery
    assert(scanPaths(mq).exists(_.contains(sumDir)),
      "refresh rebuild must clear the restriction")
    assert(mq.collect().toSeq == survivors(allRows).groupBy($"flag")
      .agg(min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"flag").collect().toSeq)
  }

  test("a compaction that fails to write the retraction marker " +
      "publishes nothing: the restriction stands") {
    allRows.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
      doomed(allRows), Seq("flag"), Seq("k", "v"), chunk = -2L)
    survivors(allRows).write.mode("overwrite").parquet(baseDir)
    spark.catalog.refreshByPath(baseDir)

    // a session whose local filesystem refuses to create the marker
    val refusing = spark.newSession()
    refusing.conf.set("fs.file.impl", classOf[RefuseMarkerFs].getName)
    refusing.conf.set("fs.file.impl.disable.cache", "true")
    intercept[java.io.IOException] {
      graft.streaming.SummaryStream.compact(refusing, sumDir, Seq("flag"))
    }
    spark.catalog.refreshByPath(sumDir)
    register(refresh = false) // re-register; marker must survive
    assert(scanPaths(minQuery).exists(_.contains(baseDir)),
      "a failed compaction must not drop the retraction restriction")
    assert(sumQuery.collect().toSeq == truth(survivors(allRows)))

    // a retry on a working filesystem compacts and keeps the marker
    graft.streaming.SummaryStream.compact(spark, sumDir, Seq("flag"))
    register(refresh = false)
    assert(scanPaths(minQuery).exists(_.contains(baseDir)))
    assert(sumQuery.collect().toSeq == truth(survivors(allRows)))
  }

  test("register heals a compaction torn between its two renames: the " +
      "retracted rollup is reopened, not rebuilt from the base") {
    allRows.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
      doomed(allRows), Seq("flag"), Seq("k", "v"), chunk = -2L)
    survivors(allRows).write.mode("overwrite").parquet(baseDir)
    spark.catalog.refreshByPath(baseDir)
    // the torn state: live renamed away, the fold not yet published
    val live = new java.io.File(sumDir)
    val old = new java.io.File(graft.util.DirSwap.oldPath(sumDir))
    val fresh = new java.io.File(graft.util.DirSwap.rebuildPath(sumDir))
    assert(live.renameTo(old))
    assert(fresh.mkdirs())
    spark.catalog.refreshByPath(sumDir)
    register(refresh = false)
    assert(live.exists() && !old.exists() && !fresh.exists())
    assert(scanPaths(minQuery).exists(_.contains(baseDir)),
      "the healed rollup keeps its retraction restriction")
    assert(sumQuery.collect().toSeq == truth(survivors(allRows)))
  }

  test("deleteChunk subtracts a whole ingest batch exactly — min/max " +
      "and the sample sketch keep serving") {
    val batch0 = allRows.where($"k" <= 20)
    val batch1 = allRows.where($"k" > 20)
    batch0.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    graft.streaming.SummaryStream.processBatch(batch1, 7L, sumDir,
      Seq("flag"), Seq("k", "v"),
      sketches = Seq(SummaryRewrite.SampleQSpec("id", "v", 64)))
    // ...batch1 expires
    graft.streaming.SummaryStream.deleteChunk(spark, sumDir, 7L)
    val q = minQuery
    assert(scanPaths(q).exists(_.contains(sumDir)),
      "retention delete is exact for every measure kind — no fallback")
    assert(q.collect().toSeq == batch0.groupBy($"flag")
      .agg(min($"v").as("lo"), max($"v").as("hi"))
      .orderBy($"flag").collect().toSeq)
    // the sample column serves quantiles over exactly the retained rows
    val sq = SummaryRewrite.sampleQuantiles(spark, sumDir, Seq("flag"),
      "v", Seq(1.0)).orderBy($"flag")
    val got = sq.collect().map(r => (r.getString(0), r.getDouble(2)))
    val want = batch0.groupBy($"flag").agg(max($"v")).orderBy($"flag")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq,
      "unsaturated (k=64 >= 20 rows/flag): the folded sample is the " +
        "retained data, so p100 is the exact max")
  }

  test("retract refuses a partial measure list and misplaced chunk ids") {
    allRows.write.mode("overwrite").parquet(baseDir)
    register(refresh = true)
    intercept[IllegalArgumentException] {
      graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
        doomed(allRows), Seq("flag"), Seq("k"), chunk = -2L)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.SummaryStream.retract(spark, baseDir, sumDir,
        doomed(allRows), Seq("flag"), Seq("k", "v"), chunk = 3L)
    }
  }
}

/** The local filesystem, except that it refuses to create the rollup's
  * retraction marker: stands in for a write that fails at that step.
  */
class RefuseMarkerFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (f.getName == SummaryRewrite.RetractedMarker)
      throw new java.io.IOException(s"refused to create $f")
    else super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
}
