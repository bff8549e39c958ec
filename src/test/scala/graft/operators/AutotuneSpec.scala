package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, udf}
import org.apache.spark.sql.types._

class AutotuneSpec extends SparkSuite {

  test("exact search recalls 100 and early-stops at the first variant") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val rs = Autotune.run(emb, "vec_id", "embedding", k = 5,
      sampleN = 200, nQueries = 5)
    assert(rs.size === 1) // early stop at recall >= 99.9
    assert(rs.head.recall === 100.0)
    assert(rs.head.m === 6 && rs.head.efConstruction === 32)
  }

  test("bestVariant: min latency among passing, else max recall") {
    val rs = Seq(
      Autotune.Result(0, 6, 32, 64, 100.0, 5.0, 1.0),
      Autotune.Result(1, 8, 40, 64, 100.0, 3.0, 1.0),
      Autotune.Result(2, 12, 48, 64, 98.0, 1.0, 1.0))
    assert(Autotune.bestVariant(rs).experimentId === 1)
    val low = rs.map(r => r.copy(recall = r.recall - 50))
    assert(Autotune.bestVariant(low).experimentId === 0) // max recall
  }

  test("IndexParams validation mirrors the reference ranges (F9)") {
    IndexParams().validate()
    IndexParams(m = 2, efConstruction = 400, ef = 1, dim = 2000).validate()
    intercept[IllegalArgumentException] { IndexParams(m = 1).validate() }
    intercept[IllegalArgumentException] { IndexParams(m = 129).validate() }
    intercept[IllegalArgumentException] {
      IndexParams(efConstruction = 401).validate()
    }
    intercept[IllegalArgumentException] { IndexParams(dim = 2001).validate() }
    intercept[IllegalArgumentException] {
      IndexParams(metric = "ip").validate()
    }
  }

  test("results DF matches the reference autotune_results schema") {
    val df = Autotune.toDF(spark,
      Seq(Autotune.Result(0, 6, 32, 64, 100.0, 1.0, 2.0)))
    assert(df.columns.toSeq ===
      Seq("experiment_id", "m", "efc", "ef", "recall", "latency",
        "build_time"))
    assert(df.head().getDouble(4) === 100.0)
  }

  test("latency timing excludes the ground-truth comparison: " +
      "timedSearch materializes the search INSIDE the timed window, so " +
      "the recall read that follows reuses the cache and recomputes " +
      "nothing") {
    import org.apache.spark.sql.functions.{col, udf}
    val acc = spark.sparkContext.longAccumulator("search_evals")
    val counted = udf((i: Long) => { acc.add(1); i })
    val search = spark.range(100).select(counted(col("id")).as("x"))
    val (res, ms) = Autotune.timedSearch(search)
    assert(ms > 0.0)
    // the search really ran inside the window...
    val evalsInWindow = acc.value
    assert(evalsInWindow >= 100L, s"search not forced: $evalsInWindow")
    // ...and the truth-join stand-in reads the CACHE — were the search
    // still lazy (the r9 shape), this second action would re-run the
    // UDF and the latency column would have charged the truth join
    assert(res.count() == 100L)
    assert(acc.value == evalsInWindow,
      s"recall read recomputed the search: ${acc.value} > $evalsInWindow")
    res.unpersist()
  }

  // ---- the recall grids against a per-point reference ---------------

  private val gridSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false))))

  private def local(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map {
      case (i, v) => Row(i, if (v == null) null else v.toSeq)
    }: _*), gridSchema)

  /** Eight Gaussian clusters around +-10 on each of 4 axes (ids 0-199),
    * exact copies of ids 0-19 under ids 200-219 (distance ties), id 220
    * with a null vector, and ids 300/301 at -6/+6 on the first axis: the
    * origin's two nearest rows, tied in distance, in cells 1 and 0; read
    * back from parquet, so it is no local relation.
    */
  private lazy val gridCorpus: DataFrame = {
    val r = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(4)(d =>
        (if (d == (i % 8) / 2) (if (i % 2 == 0) 10f else -10f) else 0f) +
          (r.nextGaussian() * 1.5).toFloat))
    }
    val all = rows ++ rows.take(20).map { case (i, v) => (i + 200, v.clone) } :+
      ((220L, null: Array[Float])) :+ ((300L, Array(-6f, 0f, 0f, 0f))) :+
      ((301L, Array(6f, 0f, 0f, 0f)))
    val path = java.nio.file.Files.createTempDirectory("autotune_grid")
      .toString + "/corpus"
    local(all).write.parquet(path)
    spark.read.parquet(path)
  }

  /** The eight cluster centres, then a decoy centroid next to the origin
    * that no row is nearest to.
    */
  private lazy val gridCents: Array[Array[Float]] =
    (for (d <- 0 until 4; s <- Seq(10f, -10f))
      yield Array.tabulate(4)(i => if (i == d) s else 0f)).toArray :+
      Array(0f, 0f, 0f, 0.5f)

  /** Queries whose nearest cell is the empty decoy, so every nprobe-1
    * point matches nothing. The origin is equidistant from all eight
    * cluster centres (cell-order ties from probe rank 1 on).
    */
  private lazy val tieQueries: DataFrame = local((0 until 5).map(i =>
    (1000L + i, Array(0.2f * i, -0.1f * i, 0.05f * i, 0f))))

  /** Corpus rows with duplicates (ties in distance), as a scanned frame. */
  private lazy val rowQueries: DataFrame =
    gridCorpus.where(col("id") < 10 || col("id").between(50, 54))

  private def matchCount(res: DataFrame, truth: DataFrame): DataFrame =
    res.select(col("qid"), col("nid")).join(truth, Seq("qid", "nid"))
      .agg(count(lit(1)).cast("int").as("matches"))

  /** A grid restated point by point: one written index per kind and one
    * search per point.
    */
  private def perPoint(queries: DataFrame, k: Int,
      points: Seq[(String, Int, Int)],
      row: (Int, (String, Int, Int)) => Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    val truth = Knn.topK(gridCorpus, queries, "id", "vec", k)
      .select(col("qid"), col("nid"))
    points.zipWithIndex.map { case (p @ (kind, np, sl), i) =>
      val model = IvfIndex.buildWithCentroids(gridCorpus, "id", "vec",
        gridCents, kind = IvfIndex.StorageKind.byName(kind))
      matchCount(IvfIndex.search(model, queries, k, np, shortlist = sl),
        truth).select(row(i, p) :+ col("matches"): _*)
    }.reduce(_ unionAll _)
  }

  private def assertSame(grid: DataFrame, ref: DataFrame): Seq[Int] = {
    assert(grid.schema === ref.schema)
    val got = grid.collect().toSeq
    assert(got === ref.orderBy(col("experiment_id")).collect().toSeq)
    got.map(r => r.getInt(r.length - 1))
  }

  test("ivfRecallGrid equals a written index searched at each nprobe") {
    val probes = Seq(1, 2, 3, 9)
    // k = 1: a row query's copy ties with it at distance 0
    for (q <- Seq(tieQueries, rowQueries); k <- Seq(1, 5)) {
      val matches = assertSame(
        Autotune.ivfRecallGrid(gridCorpus, q, "id", "vec", gridCents, k = k,
          probes = probes),
        perPoint(q, k, probes.map(("f32", _, 0)), { case (i, (_, np, _)) =>
          Seq(lit(i).as("experiment_id"), lit(gridCents.length).as("n_cells"),
            lit(np).as("nprobe"))
        }))
      assert(matches.exists(_ > 0), matches)
      if (q eq tieQueries) assert(matches.head === 0, matches)
    }
  }

  test("bqRecallGrid equals a written BQ index searched at each " +
      "(nprobe, shortlist), shortlists below k clamped") {
    val grid = Seq((1, 5), (2, 3), (2, 20), (3, 8), (9, 221))
    for (q <- Seq(tieQueries, rowQueries)) {
      val matches = assertSame(
        Autotune.bqRecallGrid(gridCorpus, q, "id", "vec", gridCents, k = 5,
          grid = grid),
        perPoint(q, 5, grid.map { case (np, sl) => ("bq", np, sl max 5) },
          { case (i, (_, np, sl)) =>
            Seq(lit(i).as("experiment_id"), lit(np).as("nprobe"),
              lit(sl).as("shortlist"))
          }))
      assert(matches.exists(_ > 0), matches)
      if (q eq tieQueries) assert(matches.head === 0, matches)
    }
  }

  test("kindsRecallGrid equals one written index per kind searched at " +
      "each nprobe") {
    for (q <- Seq(tieQueries, rowQueries); sl <- Seq(8, 40)) {
      val matches = assertSame(
        Autotune.kindsRecallGrid(gridCorpus, q, "id", "vec", gridCents,
          k = 5, shortlist = sl),
        perPoint(q, 5, Autotune.kindGrid.map(v => (v.kind, v.nprobe, sl)),
          { case (i, (kind, np, _)) =>
            Seq(lit(i).as("experiment_id"), lit(kind).as("kind"),
              lit(np).as("nprobe"))
          }))
      assert(matches.exists(_ > 0), matches)
    }
  }

  test("a recall grid writes no index directory and reads its corpus " +
      "once") {
    val acc = spark.sparkContext.longAccumulator("grid_corpus_rows")
    val seen = udf((v: Seq[Float]) => { acc.add(1); v }).asNondeterministic()
    val counted = gridCorpus.withColumn("vec", seen(col("vec")))
    val n = gridCorpus.count()
    def dirs: Set[String] = Option(new java.io.File(IvfIndex.tmpBase).list())
      .map(_.toSet).getOrElse(Set.empty)
    val before = dirs
    val grids = Seq[DataFrame => DataFrame](
      Autotune.ivfRecallGrid(_, tieQueries, "id", "vec", gridCents, k = 5),
      Autotune.bqRecallGrid(_, tieQueries, "id", "vec", gridCents, k = 5),
      Autotune.kindsRecallGrid(_, tieQueries, "id", "vec", gridCents, k = 5))
    for (grid <- grids) {
      acc.reset()
      grid(counted).collect()
      assert(acc.value === n, "corpus rows computed by one grid call")
    }
    assert(dirs === before)
  }
}
