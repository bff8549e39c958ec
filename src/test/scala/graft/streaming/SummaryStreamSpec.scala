package graft.streaming

import graft.SparkSuite
import graft.plans.SummaryRewrite
import graft.plans.SummaryRewrite.{ItemsSpec, SketchSpec, VecSpec}
import org.apache.spark.sql.functions._

class SummaryStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def mkRows(from: Int, n: Int) =
    (from until from + n).map(i =>
      (if (i % 2 == 0) "A" else "B", i.toLong, (i % 7 + 1).toDouble))
      .toDF("flag", "k", "qty")

  test("stream-maintained rollup serves exact aggregates after drain, " +
      "and a crash-replayed batch does not double-count") {
    val baseDir = tmp("graft_ss_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss_sum") + "/rollup"
    mkRows(0, 100).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))

    // drive batches through the real batch path (they ARE the stream
    // semantics): batch 0 = initial files, batch 1 = an append
    SummaryStream.processBatch(mkRows(0, 100), 0L, sumDir,
      Seq("flag"), Seq("qty"))
    mkRows(100, 50).write.mode("append").parquet(baseDir)
    SummaryStream.processBatch(mkRows(100, 50), 1L, sumDir,
      Seq("flag"), Seq("qty"))
    // crash between write and checkpoint commit ⇒ the same batch
    // replays; chunk=1 must be overwritten, not appended to
    SummaryStream.processBatch(mkRows(100, 50), 1L, sumDir,
      Seq("flag"), Seq("qty"))

    val q = spark.read.parquet(baseDir).groupBy($"flag")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s"),
        max($"qty").as("mx"))
      .orderBy($"flag")
    // serves from the rollup...
    val scans = q.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("rollup")), s"scanned $scans")
    // ...and exactly matches the direct computation
    val got = q.collect().map(_.toSeq)
    SummaryRewrite.clear()
    val want = spark.read.parquet(baseDir).groupBy($"flag")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s"),
        max($"qty").as("mx"))
      .orderBy($"flag").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("a streaming-registered rollup is readable BEFORE the first " +
      "batch: serves correct empty aggregates, then batch values") {
    val baseDir = tmp("graft_ss_empty") + "/fact.parquet"
    val sumDir = tmp("graft_ss_emptys") + "/rollup"
    mkRows(0, 100).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))
    def grouped = spark.read.parquet(baseDir).groupBy($"flag")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s"))
      .orderBy($"flag")
    def global = spark.read.parquet(baseDir)
      .agg(count(lit(1)).as("n"))
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution
            .datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
    // pre-first-batch: SERVED (not a silent base fallback), zero
    // committed batches => empty grouped result / zero global count —
    // the documented bounded-staleness contract
    assert(scans(grouped).exists(_.contains("rollup")),
      s"scanned ${scans(grouped)}")
    assert(grouped.schema.fieldNames.toSeq == Seq("flag", "n", "s"))
    assert(grouped.collect().isEmpty)
    assert(global.collect().head.getLong(0) == 0L)
    // first batch commits: the same queries now serve its values
    SummaryStream.processBatch(mkRows(0, 100), 0L, sumDir,
      Seq("flag"), Seq("qty"))
    assert(scans(grouped).exists(_.contains("rollup")))
    val got = grouped.collect().map(_.toSeq).toSeq
    SummaryRewrite.clear()
    val want = grouped.collect().map(_.toSeq).toSeq
    assert(got == want)
    assert(want.map(_(1).asInstanceOf[Long]).sum == 100L)
  }

  test("CUBE and star joins serve exactly from a CHUNK-maintained " +
      "rollup (the Expand/join paths re-aggregate chunk rows too)") {
    val baseDir = tmp("graft_ss_cube") + "/fact.parquet"
    val sumDir = tmp("graft_ss_cubes") + "/rollup"
    mkRows(0, 100).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))
    SummaryStream.processBatch(mkRows(0, 100), 0L, sumDir,
      Seq("flag"), Seq("qty"))
    mkRows(100, 60).write.mode("append").parquet(baseDir)
    SummaryStream.processBatch(mkRows(100, 60), 1L, sumDir,
      Seq("flag"), Seq("qty"))
    // two chunks now repeat each dim group; cube subtotals must still
    // be exact (each output group folds every chunk row exactly once
    // per grouping set)
    def cube = spark.read.parquet(baseDir).cube($"flag")
      .agg(count(lit(1)).as("n"), sum($"qty").as("s"))
      .orderBy($"flag")
    val scans = cube.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources
          .LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution
          .datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.exists(_.contains("rollup")), s"scanned $scans")
    val got = cube.collect().map(_.toSeq).toSeq
    SummaryRewrite.clear()
    val want = cube.collect().map(_.toSeq).toSeq
    // re-register WITHOUT registerStreaming: that would rewrite the
    // empty chunk=-1 build over the accumulated chunks (it is the
    // start-of-stream call, not the re-attach call)
    SummaryRewrite.register(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))
    assert(got == want)
    // star join over the chunked rollup
    val dim = Seq(("A", "alpha"), ("B", "beta")).toDF("f", "fn")
    def star = spark.read.parquet(baseDir)
      .join(dim, $"flag" === $"f")
      .groupBy($"fn").agg(sum($"qty").as("s")).orderBy($"fn")
    val s2 = star.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources
          .LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution
          .datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten
    assert(s2.exists(_.contains("rollup")), s"scanned $s2")
    val gotStar = star.collect().map(_.toSeq).toSeq
    SummaryRewrite.clear()
    val wantStar = star.collect().map(_.toSeq).toSeq
    assert(gotStar == wantStar)
  }

  test("the real file-source stream drains existing files into the " +
      "rollup and compaction folds chunks without changing answers") {
    val baseDir = tmp("graft_ss2_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss2_sum") + "/rollup"
    val ckpt = tmp("graft_ss2_ckpt")
    mkRows(0, 60).write.mode("append").parquet(baseDir)
    mkRows(60, 40).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))
    val q = SummaryStream.start(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), ckpt, maxFilesPerTrigger = 2)
    try q.processAllAvailable() finally q.stop()

    def served = spark.read.parquet(baseDir)
      .agg(count(lit(1)).as("n"), sum($"qty").as("s")).collect().head
    val afterDrain = served
    assert(afterDrain.getLong(0) == 100L)
    // multiple chunks exist now; compaction folds them to one build
    val chunksBefore = spark.read.parquet(sumDir)
      .select($"chunk").distinct().count()
    assert(chunksBefore >= 2, s"expected >=2 chunks, got $chunksBefore")
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val afterCompact = served
    assert(afterCompact.getLong(0) == 100L)
    assert(afterCompact.getDouble(1) == afterDrain.getDouble(1))
    val chunksAfter = spark.read.parquet(sumDir)
      .select($"chunk").distinct().count()
    assert(chunksAfter == 1L)
    SummaryRewrite.clear()
  }

  test("compact is rollup-local: it folds chunks with zero base I/O " +
      "(the base table may be GONE) and serves identical aggregates") {
    val baseDir = tmp("graft_ss3_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss3_sum") + "/rollup"
    mkRows(0, 80).write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"))
    SummaryStream.processBatch(mkRows(0, 80), 0L, sumDir,
      Seq("flag"), Seq("qty"))
    SummaryStream.processBatch(mkRows(80, 20), 1L, sumDir,
      Seq("flag"), Seq("qty"))
    val beforeRows = spark.read.parquet(sumDir).groupBy($"flag")
      .agg(sum($"cnt").as("n"), sum($"s_qty").as("s"),
        min($"mn_qty").as("mn"), max($"mx_qty").as("mx"))
      .orderBy($"flag").collect().map(_.toSeq).toSeq
    // the fold's plan must read ONLY the rollup — prove it the hard
    // way: delete the base table entirely, then compact
    val fs = new org.apache.hadoop.fs.Path(baseDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(baseDir), true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(baseDir)))
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val chunks = spark.read.parquet(sumDir)
      .select($"chunk".cast("long")).distinct().collect()
      .map(_.getLong(0)).toSeq
    assert(chunks == Seq(-1L), s"got chunks $chunks")
    val afterRows = spark.read.parquet(sumDir).groupBy($"flag")
      .agg(sum($"cnt").as("n"), sum($"s_qty").as("s"),
        min($"mn_qty").as("mn"), max($"mx_qty").as("mx"))
      .orderBy($"flag").collect().map(_.toSeq).toSeq
    assert(afterRows == beforeRows)
    SummaryRewrite.clear()
  }

  test("compact heals a swap interrupted between its two renames") {
    val sumDir = tmp("graft_ss4_sum") + "/rollup"
    SummaryStream.processBatch(mkRows(0, 50), 0L, sumDir,
      Seq("flag"), Seq("qty"))
    SummaryStream.processBatch(mkRows(50, 50), 1L, sumDir,
      Seq("flag"), Seq("qty"))
    val total = spark.read.parquet(sumDir)
      .agg(sum($"cnt")).collect().head.getLong(0)
    assert(total == 100L)
    // simulate a crash between rename #1 and rename #2: the live dir
    // has moved to .old, nothing was published
    val fs = new org.apache.hadoop.fs.Path(sumDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(sumDir),
      new org.apache.hadoop.fs.Path(
        graft.util.DirSwap.oldPath(sumDir))))
    spark.catalog.refreshByPath(sumDir)
    // next compact must first restore the pre-swap state, then fold
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val healed = spark.read.parquet(sumDir)
      .agg(sum($"cnt")).collect().head.getLong(0)
    assert(healed == 100L)
    assert(spark.read.parquet(sumDir)
      .select($"chunk").distinct().count() == 1L)
  }

  test("streamed HLL register maintenance: chunked sketch measures " +
      "merge to exactly the one-shot sketch, through compact too") {
    val baseDir = tmp("graft_ss5_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss5_sum") + "/rollup"
    val all = mkRows(0, 300)
    all.write.mode("append").parquet(baseDir)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), sketches = Seq(SketchSpec("k", 6)))
    // three delta chunks, overlapping keys across chunks
    SummaryStream.processBatch(mkRows(0, 150), 0L, sumDir,
      Seq("flag"), Seq("qty"), Seq(SketchSpec("k", 6)))
    SummaryStream.processBatch(mkRows(100, 100), 1L, sumDir,
      Seq("flag"), Seq("qty"), Seq(SketchSpec("k", 6)))
    SummaryStream.processBatch(mkRows(200, 100), 2L, sumDir,
      Seq("flag"), Seq("qty"), Seq(SketchSpec("k", 6)))
    // merged registers from the chunked rollup == one-shot sketch of
    // the union of rows (sets overlap: 0..249 ∪ 200..299 = 0..299)
    def regsOf(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"flag").collect()
      .map(r => (r.getString(0), r.getSeq[Int](1).toList)).toList
    val servedRegs = regsOf(spark.read.parquet(sumDir)
      .groupBy($"flag")
      .agg(expr("hll_merge(hll_k)").as("regs")))
    val directRegs = regsOf(all.groupBy($"flag")
      .agg(expr("hll_sketch(k, 6)").as("regs")))
    assert(servedRegs == directRegs)
    // the estimate survives compact (registers fold by elementwise max)
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val compactedRegs = regsOf(spark.read.parquet(sumDir)
      .groupBy($"flag")
      .agg(expr("hll_merge(hll_k)").as("regs")))
    assert(compactedRegs == directRegs)
    // and approxDistinct serves a sane estimate from the rollup
    val est = SummaryRewrite.approxDistinct(spark, sumDir, Seq("flag"),
      "k").orderBy($"flag").collect().map(_.getLong(1))
    est.foreach(e => assert(e > 100 && e < 200, s"estimate $e for 150"))
    SummaryRewrite.clear()
  }

  test("streamed HDR + CMS measures: chunked count arrays fold to " +
      "exactly the one-shot sketches, through compact too") {
    val baseDir = tmp("graft_ss_hc_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss_hc_sum") + "/rollup"
    val all = mkRows(0, 300)
    all.write.mode("append").parquet(baseDir)
    val hdrs = Seq(SummaryRewrite.HdrSpec("k", "k", 5))
    val cmss = Seq(SummaryRewrite.CmsSpec("k", 4, 128))
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), sketches = hdrs ++ cmss)
    SummaryStream.processBatch(mkRows(0, 150), 0L, sumDir,
      Seq("flag"), Seq("qty"), sketches = hdrs ++ cmss)
    SummaryStream.processBatch(mkRows(150, 150), 1L, sumDir,
      Seq("flag"), Seq("qty"), sketches = hdrs ++ cmss)
    def hdrServed() = SummaryRewrite.hdrQuantiles(spark, sumDir,
      Seq("flag"), "k", Seq((50L, 100L), (99L, 100L)))
      .orderBy($"flag").collect().map(_.toSeq).toSeq
    val hdrDirect = all.groupBy($"flag")
      .agg(expr("hdr_quantile(hdr_sketch(k, 5), 50, 100, 5)").as("p50"),
        expr("hdr_quantile(hdr_sketch(k, 5), 99, 100, 5)").as("p99"))
      .orderBy($"flag").collect().map(_.toSeq).toSeq
    assert(hdrServed() == hdrDirect)
    def freqServed() = SummaryRewrite.approxFreq(spark, sumDir,
      Seq(), "k", Seq(5L, 7L, 250L)).orderBy($"k")
      .collect().map(_.toSeq).toSeq
    val freqDirect = {
      val sk = all.agg(expr("cms_sketch(k, 4, 128)").as("__cms"))
      Seq(5L, 7L, 250L).toDF("k").crossJoin(broadcast(sk))
        .select($"k", expr("cms_estimate(__cms, k, 4, 128)").as("est"))
        .orderBy($"k").collect().map(_.toSeq).toSeq
    }
    assert(freqServed() == freqDirect)
    // both survive the rollup-local compact fold bit for bit
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    assert(hdrServed() == hdrDirect)
    assert(freqServed() == freqDirect)
    SummaryRewrite.clear()
  }

  test("streamed vector-sum measures: chunked struct(n, sums) partials " +
      "fold to the one-shot centroid, through compact, null rows " +
      "excluded") {
    val baseDir = tmp("graft_ss7_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss7_sum") + "/rollup"
    // every third row carries a NULL vector (must not count toward n)
    def mk(from: Int, n: Int) = (from until from + n).map { i =>
      val v = if (i % 3 == 2) null
        else Array(i.toFloat, (i % 5).toFloat, 1.0f)
      (if (i % 2 == 0) "A" else "B", v, 1.0)
    }.toDF("flag", "vec", "qty")
    mk(0, 90).write.mode("append").parquet(baseDir)
    val vecs = Seq(VecSpec("vec"))
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), sketches = vecs)
    SummaryStream.processBatch(mk(0, 90), 0L, sumDir, Seq("flag"),
      Seq("qty"), sketches = vecs)
    SummaryStream.processBatch(mk(90, 60), 1L, sumDir, Seq("flag"),
      Seq("qty"), sketches = vecs)
    val all = mk(0, 90).unionByName(mk(90, 60))
    def expect = all.where($"vec".isNotNull)
      .select($"flag", posexplode($"vec").as(Seq("j", "x")))
      .groupBy($"flag", $"j")
      .agg(count(lit(1)).as("n"), avg($"x".cast("double")).as("c"))
      .select($"flag", $"n", $"j", round($"c", 9).as("c"))
      .orderBy($"flag", $"j").collect().map(_.toSeq).toSeq
    def served = SummaryRewrite.groupCentroids(spark, sumDir,
        Seq("flag"), "vec")
      .select($"flag", $"n", posexplode($"centroid").as(Seq("j", "c")))
      .select($"flag", $"n", $"j", round($"c", 9).as("c"))
      .orderBy($"flag", $"j").collect().map(_.toSeq).toSeq
    assert(served == expect)
    // survives the rollup-local fold
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    assert(served == expect)
    // a dim-subset (global) read folds groups exactly: n == all
    // non-null rows
    val global = SummaryRewrite.groupCentroids(spark, sumDir,
      Nil, "vec").collect().head
    assert(global.getLong(0) ==
      all.where($"vec".isNotNull).count())
    SummaryRewrite.clear()
  }

  test("streamed Misra-Gries items measures: chunked summaries fold " +
      "to exact counts at capacity >= vocab, through compact, and " +
      "approxTopItems serves them") {
    val baseDir = tmp("graft_ss6_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss6_sum") + "/rollup"
    // item vocab of 7 values (i % 7), capacity 32 >> vocab => exact
    def mk(from: Int, n: Int) = (from until from + n).map(i =>
      (if (i % 2 == 0) "A" else "B", s"it${i % 7}", 1.0))
      .toDF("flag", "item", "qty")
    mk(0, 140).write.mode("append").parquet(baseDir)
    val items = Seq(ItemsSpec("item", 32))
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), sketches = items)
    SummaryStream.processBatch(mk(0, 140), 0L, sumDir, Seq("flag"),
      Seq("qty"), sketches = items)
    SummaryStream.processBatch(mk(140, 60), 1L, sumDir, Seq("flag"),
      Seq("qty"), sketches = items)
    val all = mk(0, 140).unionByName(mk(140, 60))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"flag").orderBy($"count".desc, $"item")
    def expect = all.groupBy($"flag", $"item").count()
      .withColumn("rank", row_number().over(w))
      .where($"rank" <= 3)
      .select($"flag", $"rank", $"item", $"count".as("est"))
      .orderBy($"flag", $"rank").collect().map(_.toSeq).toSeq
    val served = SummaryRewrite.approxTopItems(spark, sumDir,
        Seq("flag"), "item", 3)
      .orderBy($"flag", $"rank").collect().map(_.toSeq).toSeq
    assert(served == expect)
    // survives the rollup-local fold (capacity parsed from the name)
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val afterCompact = SummaryRewrite.approxTopItems(spark, sumDir,
        Seq("flag"), "item", 3)
      .orderBy($"flag", $"rank").collect().map(_.toSeq).toSeq
    assert(afterCompact == expect)
    // unknown items column is refused with the available name
    val e = intercept[IllegalArgumentException] {
      SummaryRewrite.approxTopItems(spark, sumDir, Seq("flag"),
        "nope", 3)
    }
    assert(e.getMessage.contains("mg<capacity>_nope"))
    SummaryRewrite.clear()
  }

  test("a rollup carrying all eight sketch kinds streams in three " +
      "chunks and compacts to the one-shot build's sketches") {
    val baseDir = tmp("graft_ss8_base") + "/fact.parquet"
    val sumDir = tmp("graft_ss8_sum") + "/rollup"
    val oneShotDir = tmp("graft_ss8_once") + "/rollup"
    def mk(from: Int, n: Int) = (from until from + n).map { i =>
      (if (i % 2 == 0) "A" else "B", i.toLong, (i % 7 + 1).toDouble,
        s"it${i % 5}", Array(i.toFloat, (i % 3).toFloat))
    }.toDF("flag", "k", "qty", "item", "vec")
    val chunks = Seq(mk(0, 100), mk(100, 120), mk(220, 80))
    chunks.foreach(_.write.mode("append").parquet(baseDir))
    val sketches = Seq(
      SketchSpec("k", 6),
      SummaryRewrite.HistSpec("qty", 0.0, 10.0, 10),
      ItemsSpec("item", 32),
      SummaryRewrite.KmvSpec("k", 64),
      VecSpec("vec"),
      SummaryRewrite.SampleQSpec("k", "qty", 32),
      SummaryRewrite.HdrSpec("k", "k", 5),
      SummaryRewrite.CmsSpec("k", 4, 128))
    // the one-shot build first: once the streamed rollup is registered,
    // the rule would see the build's own aggregate over the base
    SummaryRewrite.buildSummary(spark, baseDir, oneShotDir, Seq("flag"),
      Seq("qty"), sketches)
    SummaryStream.registerStreaming(spark, baseDir, sumDir,
      Seq("flag"), Seq("qty"), sketches = sketches)
    chunks.zipWithIndex.foreach { case (rows, i) =>
      SummaryStream.processBatch(rows, i.toLong, sumDir, Seq("flag"),
        Seq("qty"), sketches = sketches)
    }
    SummaryStream.compact(spark, sumDir, Seq("flag"))
    val names = sketches.map(_.colName)
    def read(dir: String) = spark.read.parquet(dir)
      .select(($"flag" +: names.map(col)): _*).orderBy($"flag").collect()
    val (folded, once) = (read(sumDir), read(oneShotDir))
    assert(folded.map(_.getString(0)).toSeq == Seq("A", "B"))
    assert(once.map(_.getString(0)).toSeq == Seq("A", "B"))
    for ((f, o) <- folded.zip(once); (n, i) <- names.zipWithIndex) {
      if (n == "vsum_vec") {
        val (fv, ov) = (f.getStruct(i + 1), o.getStruct(i + 1))
        assert(fv.getLong(0) == ov.getLong(0))
        fv.getSeq[Double](1).zip(ov.getSeq[Double](1)).foreach {
          case (a, b) => assert(math.abs(a - b) <= 1e-6 * math.abs(b), n)
        }
      } else assert(f.get(i + 1) == o.get(i + 1), n)
    }
    SummaryRewrite.clear()
  }

  test("compact refuses a rollup column no sketch kind claims, " +
      "naming the column") {
    val sumDir = tmp("graft_ss_unk") + "/rollup"
    Seq(("A", 3L, 7L), ("A", 2L, 1L)).toDF("flag", "cnt", "zz_mystery")
      .withColumn("chunk", lit(-1L))
      .write.partitionBy("chunk").parquet(sumDir)
    val e = intercept[IllegalArgumentException] {
      SummaryStream.compact(spark, sumDir, Seq("flag"))
    }
    assert(e.getMessage.contains("zz_mystery"))
  }
}
