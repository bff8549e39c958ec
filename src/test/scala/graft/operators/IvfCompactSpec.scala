package graft.operators

import graft.SparkSuite
import graft.operators.IvfIndex.StorageKind
import org.apache.spark.sql.functions._

/** IvfIndex.compact: the maintenance op that pays down append debt.
  * Content must be invariant (same search results, same sidecars), the
  * file layout must actually shrink, and a crash anywhere inside the
  * publish swap must be healed by the next load.
  */
class IvfCompactSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val queries = emb.where($"vec_id" < 10)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"qid", $"nid", $"rank").as[(Long, Long, Int)]
      .collect().sorted.toSeq

  private def partFiles(path: String): Seq[java.io.File] = {
    val root = new java.io.File(path)
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.startsWith("cell_id="))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty).toSeq)
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def buildAppended(tag: String): IvfIndex.Model = {
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    val base = IvfIndex.build(emb.where($"vec_id" % 2 === 0), "vec_id",
      "embedding", nCells = 8, maxIter = 5, indexDir = Some(s"$tmp/idx"))
    // two appends: touched cells now hold >= 3 files each
    IvfIndex.append(base, emb.where($"vec_id" % 4 === 1))
    IvfIndex.append(base, emb.where($"vec_id" % 4 === 3))
  }

  test("compaction shrinks to one file per cell and changes nothing " +
      "else: same search rows, same centroid sidecar") {
    val m = buildAppended("ivf_compact_spec")
    val before = rows(IvfIndex.search(m, queries, k = 10, nprobe = 8))
    val filesBefore = partFiles(m.indexPath)
    assert(filesBefore.groupBy(_.getParentFile.getName)
      .exists(_._2.size >= 3), "fixture should have multi-file cells")

    val stats = IvfIndex.compact(spark, m.indexPath)
    assert(stats.filesBefore === filesBefore.size)
    assert(stats.filesAfter < stats.filesBefore)
    val perCell = partFiles(m.indexPath).groupBy(_.getParentFile.getName)
    assert(perCell.values.forall(_.size == 1),
      s"expected 1 file/cell, got ${perCell.view.mapValues(_.size).toMap}")

    val reopened = IvfIndex.load(spark, m.indexPath, "vec_id", "embedding")
    assert(reopened.centroids.map(_.toSeq).toSeq ===
      m.centroids.map(_.toSeq).toSeq) // sidecar survived the swap
    val after = rows(IvfIndex.search(reopened, queries, k = 10, nprobe = 8))
    assert(after === before)
  }

  test("targetFilesPerCell > 1 caps files per cell without losing rows") {
    val m = buildAppended("ivf_compact_multi")
    val total = m.assigned.count()
    val stats = IvfIndex.compact(spark, m.indexPath, targetFilesPerCell = 2)
    val perCell = partFiles(m.indexPath).groupBy(_.getParentFile.getName)
    assert(perCell.values.forall(_.size <= 2))
    assert(stats.partitions === perCell.size)
    val reopened = IvfIndex.load(spark, m.indexPath, "vec_id", "embedding")
    assert(reopened.assigned.count() === total)
  }

  test("a crash between the two swap renames is healed by the next " +
      "load: the pre-compaction index survives intact") {
    val m = buildAppended("ivf_compact_crash")
    val before = rows(IvfIndex.search(m, queries, k = 10, nprobe = 8))
    // simulate the torn state DirSwap.publish can crash into: live
    // renamed away, fresh not yet published
    val live = new java.io.File(m.indexPath)
    val old = new java.io.File(m.indexPath + ".old")
    val fresh = new java.io.File(m.indexPath + ".rebuild")
    assert(live.renameTo(old))
    assert(fresh.mkdirs()) // half-written rebuild, must be discarded
    assert(!live.exists())

    val healed = IvfIndex.load(spark, m.indexPath, "vec_id", "embedding")
    assert(live.exists() && !old.exists() && !fresh.exists())
    val after = rows(IvfIndex.search(healed, queries, k = 10, nprobe = 8))
    assert(after === before)
  }

  test("an index purged of every row compacts to a valid empty index " +
      "that loads, searches empty, re-appends, and re-registers") {
    val m = buildAppended("ivf_compact_purge")
    val all = m.assigned.select($"vec_id")
    val n = all.count()
    assert(IvfIndex.delete(spark, m.indexPath, all) === n)
    val stats = IvfIndex.compact(spark, m.indexPath)
    assert(stats.partitions === 0 && stats.filesAfter === 0, s"$stats")
    val empty = IvfIndex.load(spark, m.indexPath, "vec_id", "embedding")
    assert(IvfIndex.search(empty, queries, k = 10, nprobe = 8).count() === 0)
    // still a live artifact: appended rows are searchable again
    val back = IvfIndex.append(empty, emb.where($"vec_id" < 100))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(pairs(IvfIndex.search(back, queries, k = 10, nprobe = 8)) ===
      pairs(Knn.topK(emb.where($"vec_id" < 100), queries, "vec_id",
        "embedding", 10)))
    // and a fully purged registration compacts and re-registers
    val path = s"$sf0001/embeddings.parquet"
    try {
      graft.plans.IndexedKnn.register(spark, path, m.indexPath, "vec_id",
        "embedding", name = "purged_reg")
      IvfIndex.delete(spark, m.indexPath, emb.select($"vec_id"))
      val regStats = graft.plans.IndexedKnn.compactIndex(spark, "purged_reg")
      assert(regStats.partitions === 0, s"$regStats")
      assert(IvfIndex.load(spark, m.indexPath, "vec_id", "embedding")
        .assigned.count() === 0)
    } finally graft.plans.IndexedKnn.unregister(spark, path)
  }

  test("compacting an SQ8 index carries the _sqmodel sidecar and " +
      "preserves coded search results") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_compact_sq").toString
    val base = IvfIndex.build(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", nCells = 8, maxIter = 5,
      indexDir = Some(s"$tmp/idx"), kind = StorageKind.Sq8())
    val m = IvfIndex.append(base, emb.where($"vec_id" % 2 =!= 0))
    val before = rows(IvfIndex.search(m, queries, k = 10, nprobe = 8))
    IvfIndex.compact(spark, s"$tmp/idx")
    val re = IvfIndex.load(spark, s"$tmp/idx", "vec_id", "embedding")
    val (StorageKind.Sq8(mn, mx), StorageKind.Sq8(mn2, mx2)) =
      (base.kind, re.kind): @unchecked
    assert(mn2.toSeq === mn.toSeq && mx2.toSeq === mx.toSeq)
    val after = rows(IvfIndex.search(re, queries, k = 10, nprobe = 8))
    assert(after === before)
  }

  test("cellStats reports rows/share/files per cell; file counts drop " +
      "after compaction while row stats are invariant") {
    val m = buildAppended("ivf_cell_stats")
    def stats() = IvfIndex.cellStats(spark,
      IvfIndex.load(spark, m.indexPath, "vec_id", "embedding"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    val before = stats()
    assert(before.map(_._2).sum === m.assigned.count())
    assert(math.abs(before.map(_._3).sum - 1.0) < 0.01)
    assert(before.exists(_._4 >= 3), "append fixture should be multi-file")
    IvfIndex.compact(spark, m.indexPath)
    val after = stats()
    assert(after.forall(_._4 == 1), "post-compaction cells must be 1 file")
    assert(after.map(c => (c._1, c._2, c._3)).toSeq ===
      before.map(c => (c._1, c._2, c._3)).toSeq,
      "compaction must not change row stats")
  }

  test("merge folds a shard into a destination under the same frozen " +
      "quantizer, refuses mismatched quantizers, src untouched") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_merge_spec").toString
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val d = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest"))
    val s2 = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/src"))
    val nDest = d.assigned.count(); val nSrc = s2.assigned.count()
    val merged = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src",
      "vec_id", "embedding")
    assert(merged.assigned.count() === nDest + nSrc)
    // src artifact unchanged
    assert(IvfIndex.load(spark, s"$tmp/src", "vec_id", "embedding")
      .assigned.count() === nSrc)
    // merged full probe == exact kNN over the union
    val exact = IvfIndex.search(merged, queries, k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(exact === truth)
    // a shard under a DIFFERENT quantizer is refused loudly
    val other = IvfIndex.buildWithCentroids(emb.where($"vec_id" < 100),
      "vec_id", "embedding", cents.take(4), Some(s"$tmp/other"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/other",
        "vec_id", "embedding")
    }
    assert(e.getMessage.contains("different coarse quantizers"))
    assert(other.assigned.count() === 100)
  }

  test("merge with a TOMBSTONED src filters the doomed rows (rewrite " +
      "fallback); a clean src merges as a pure file move") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_merge_tomb_spec").toString
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest"))
    val s2 = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/src"))
    // tombstone part of src BEFORE the merge: those ids must not land
    IvfIndex.delete(spark, s"$tmp/src",
      emb.where($"vec_id" % 10 === 1).select($"vec_id"))
    val merged = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src",
      "vec_id", "embedding")
    val expect = emb.where($"vec_id" % 10 =!= 1 ||
      $"vec_id" % 2 === 0).count()
    assert(merged.assigned.count() === expect,
      "src tombstones must not travel into dest")
    // the clean-src fast path: file-level move, same rows, and the
    // dest artifact gains files rather than being rewritten
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest2"))
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/src2"))
    val m2 = IvfIndex.merge(spark, s"$tmp/dest2", s"$tmp/src2",
      "vec_id", "embedding")
    assert(m2.assigned.count() === emb.count(),
      "clean merge must union the shards exactly")
    // moved files carry the merge tag, proving no Spark rewrite ran
    val moved = new java.io.File(s"$tmp/dest2").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .count(_.getName.startsWith("part-merge-"))
    assert(moved > 0, "clean src must merge as a file move")
    // and a reopened artifact (fresh load, no memo) agrees
    assert(IvfIndex.load(spark, s"$tmp/dest2", "vec_id", "embedding")
      .assigned.count() === emb.count())
  }

  test("re-running a clean-src merge is idempotent: deterministic " +
      "staging names overwrite rather than duplicate") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_merge_retry_spec").toString
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest"))
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/src"))
    // staged files are numbered in the src files' path order: file i
    // of the sorted src listing lands as part-merge-<tag>-i in the same
    // cell dir, so a retry finds and overwrites its own names
    def dataFiles(root: String): Seq[java.io.File] = {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getParentFile.getName
          .startsWith("cell_id=") && !f.getName.startsWith(".") &&
          !f.getName.startsWith("_"))
        .toSeq.sortBy(_.getPath)
      finally w.close()
    }
    def assertStagedOrder(): Unit = {
      val staged = dataFiles(s"$tmp/dest").flatMap { f =>
        "part-merge-[0-9a-f]+-(\\d+)\\.parquet".r
          .findFirstMatchIn(f.getName).map(m => m.group(1).toInt -> f)
      }.toMap
      val src = dataFiles(s"$tmp/src")
      assert(staged.keySet === src.indices.toSet)
      src.zipWithIndex.foreach { case (f, i) =>
        assert(staged(i).getParentFile.getName === f.getParentFile.getName)
        assert(java.nio.file.Files.readAllBytes(staged(i).toPath)
          .sameElements(java.nio.file.Files.readAllBytes(f.toPath)),
          s"staged file $i is not src file ${f.getPath}")
      }
    }
    val m1 = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src",
      "vec_id", "embedding")
    assert(m1.assigned.count() === emb.count())
    assertStagedOrder()
    // a crashed-and-retried (or doubly-invoked) merge of the SAME src
    // must not duplicate rows: the tag derives from srcPath, so the
    // rerun overwrites its own part-merge files
    val m2 = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src",
      "vec_id", "embedding")
    assert(m2.assigned.count() === emb.count(),
      "re-merging the same src must overwrite, not duplicate")
    assertStagedOrder()
    // a DIFFERENT src under the same quantizer still appends
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0)
      .withColumn("vec_id", $"vec_id" + 1000000),
      "vec_id", "embedding", cents, Some(s"$tmp/src_b"))
    val m3 = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src_b",
      "vec_id", "embedding")
    assert(m3.assigned.count() ===
      emb.count() + emb.where($"vec_id" % 2 =!= 0).count())
  }

  test("re-merging a src path that now holds new content in fewer " +
      "files keeps both merges' rows exactly once") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_merge_new_content").toString
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest"))
    val first = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/src"))
    IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src", "vec_id", "embedding")
    // new content at the SAME path: fresh ids in only two of the cells,
    // so the src now has fewer part files than the first merge staged
    val fresh = first.assigned.where($"cell_id" < 2)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    val freshRows = spark.createDataFrame(
      java.util.Arrays.asList(fresh.collect(): _*), fresh.schema)
    val filesBefore = partFiles(s"$tmp/src").size
    IvfIndex.buildWithCentroids(freshRows, "vec_id", "embedding", cents,
      Some(s"$tmp/src"), force = true)
    assert(partFiles(s"$tmp/src").size < filesBefore,
      "fixture: the new src content must span fewer files")
    val merged = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src",
      "vec_id", "embedding")
    val ids = merged.assigned.select($"vec_id").as[Long].collect().toSeq
    val expected = emb.select($"vec_id").as[Long].collect().toSeq ++
      freshRows.select($"vec_id").as[Long].collect().toSeq
    assert(ids.sorted === expected.sorted,
      "every row of both merges must be in dest exactly once")
  }

  test("merge refuses SQ8 shards fitted to different scalar models and " +
      "folds shards that share one") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_merge_sq8").toString
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val dest = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", cents, Some(s"$tmp/dest"),
      kind = StorageKind.Sq8())
    val own = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/own"),
      kind = StorageKind.Sq8())
    assert(own.kind != dest.kind, "fixture: the halves fit different ranges")
    intercept[IllegalArgumentException] {
      IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/own", "vec_id", "embedding")
    }
    // a shard encoded under dest's scalar model merges, and searches as
    // one index built over the whole corpus under that model
    IvfIndex.buildWithCentroids(emb.where($"vec_id" % 2 =!= 0),
      "vec_id", "embedding", cents, Some(s"$tmp/shared"), kind = dest.kind)
    val merged = IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/shared",
      "vec_id", "embedding")
    assert(merged.assigned.count() === emb.count())
    val whole = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding",
      cents, Some(s"$tmp/whole"), kind = dest.kind)
    assert(rows(IvfIndex.search(merged, queries, k = 10, nprobe = 8)) ===
      rows(IvfIndex.search(whole, queries, k = 10, nprobe = 8)))
  }

  test("IndexedKnn.compactIndex compacts the registered artifact and " +
      "the planner rewrite keeps serving it") {
    val path = s"$sf0001/embeddings.parquet"
    val idxDir = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_compact_reg_${java.lang.ProcessHandle.current().pid()}"
    try {
      val base = IvfIndex.build(emb.where($"vec_id" % 2 === 0), "vec_id",
        "embedding", nCells = 8, maxIter = 5, indexDir = Some(idxDir),
        force = true)
      IvfIndex.append(base, emb.where($"vec_id" % 2 =!= 0))
      graft.plans.IndexedKnn.register(spark, path, idxDir, "vec_id",
        "embedding", nprobe = 0, name = "compact_reg")
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      def knn() = emb.select($"vec_id",
          graft.functions.VectorFunctions.l2sq_dist($"embedding",
            typedlit(q)).as("dist"))
        .orderBy($"dist").limit(20)
        .select($"vec_id").as[Long].collect().toSeq
      val before = knn()
      val stats = graft.plans.IndexedKnn.compactIndex(spark, "compact_reg")
      assert(stats.filesAfter < stats.filesBefore)
      assert(knn() === before)
    } finally {
      graft.plans.IndexedKnn.unregister(spark, path)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(idxDir))
    }
  }
}
