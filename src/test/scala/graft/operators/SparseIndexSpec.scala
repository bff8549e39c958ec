package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SparseIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"$sf0001/documents.parquet")

  test("artifact search equals direct SparseSearch.topK; the scan " +
      "prunes to the query terms' bucket partitions; load reopens " +
      "without the corpus") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_idx").toString + "/idx"
    val words = Seq("table", "scan", "fast")
    val m = SparseIndex.build(docs, "doc_id", "text", dir)
    val fromIndex = SparseIndex.search(m, words, 10)
      .as[(Long, Long)].collect().toSeq
    val direct = SparseSearch.topK(docs, "doc_id", "text", words, 10)
      .as[(Long, Long)].collect().toSeq
    assert(fromIndex === direct)
    // storage-layer pruning: bucket IN (...) reaches the posting scan
    // as a PartitionFilter — unrelated buckets are never read
    val plan = SparseIndex.search(m, words, 10)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*bucket#\\d+ (IN|INSET)".r
      .findFirstIn(plan).isDefined, s"bucket pruning lost:\n$plan")
    // the artifact is hive-partitioned by bucket on disk
    val dirs = new java.io.File(dir).listFiles()
    assert(dirs.exists(_.getName.startsWith("bucket=")))
    // reopen with NO corpus in sight: same results
    val loaded = SparseIndex.load(spark, dir)
    assert(loaded.nDocs === m.nDocs && loaded.vocab === m.vocab)
    val again = SparseIndex.search(loaded, words, 10)
      .as[(Long, Long)].collect().toSeq
    assert(again === direct)
    // df sidecar is bounded by the vocabulary, not the corpus
    assert(loaded.stats.count() <= loaded.vocab)
  }

  test("append under the frozen hash vocabulary equals the full-corpus " +
      "build: postings land in existing buckets, df sidecar and n_docs " +
      "refresh from the batch alone") {
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_sparse_app").toString + "/idx"
    val dirF = java.nio.file.Files
      .createTempDirectory("graft_sparse_full").toString + "/idx"
    val corpus = docs.where($"doc_id" < 200)
    val base = SparseIndex.build(corpus.where($"doc_id" % 2 === 0),
      "doc_id", "text", dirA, nBuckets = 16)
    val appended = SparseIndex.append(base,
      corpus.where($"doc_id" % 2 =!= 0), "doc_id", "text")
    val full = SparseIndex.build(corpus, "doc_id", "text", dirF,
      nBuckets = 16)
    // identical meta and df sidecar (the batch-merge math is exact)
    assert(appended.nDocs === full.nDocs)
    val sideA = appended.stats.orderBy($"idx").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val sideF = full.stats.orderBy($"idx").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(sideA === sideF)
    // identical search results (idf from the refreshed sidecar)
    val words = Seq("table", "scan")
    val gotA = SparseIndex.search(appended, words, 15)
      .as[(Long, Long)].collect().toSeq
    val gotF = SparseIndex.search(full, words, 15)
      .as[(Long, Long)].collect().toSeq
    assert(gotA === gotF)
    // arrivals landed INSIDE the existing bucket layout (no new
    // top-level dirs beyond bucket=/sidecars)
    val names = new java.io.File(dirA).listFiles().map(_.getName).toSet
    assert(names.forall(n => n.startsWith("bucket=") ||
      n.startsWith("_") || n.startsWith(".")),
      s"unexpected entries: $names")
    // and a reopened artifact serves the same thing
    val reloaded = SparseIndex.load(spark, dirA)
    assert(SparseIndex.search(reloaded, words, 15)
      .as[(Long, Long)].collect().toSeq === gotF)
  }

  test("compact folds append file debt to one file per bucket, " +
      "postings-local: identical search, df sidecar and meta " +
      "untouched; heals an interrupted swap") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_cmp").toString + "/idx"
    val corpus = docs.where($"doc_id" < 300)
    val base = SparseIndex.build(corpus.where($"doc_id" % 3 === 0),
      "doc_id", "text", dir, nBuckets = 8)
    val m1 = SparseIndex.append(base,
      corpus.where($"doc_id" % 3 === 1), "doc_id", "text")
    val m2 = SparseIndex.append(m1,
      corpus.where($"doc_id" % 3 === 2), "doc_id", "text")
    val words = Seq("table", "scan", "fast")
    val before = SparseIndex.search(m2, words, 15)
      .as[(Long, Long)].collect().toSeq
    val sideBefore = m2.stats.orderBy($"idx").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val stats = SparseIndex.compact(spark, dir)
    // three writes' worth of files folded to exactly one per bucket
    assert(stats.filesBefore > stats.filesAfter,
      s"$stats should shrink")
    assert(stats.filesAfter === stats.partitions, s"$stats")
    val m3 = SparseIndex.load(spark, dir)
    assert(SparseIndex.search(m3, words, 15)
      .as[(Long, Long)].collect().toSeq === before)
    assert(m3.nDocs === m2.nDocs && m3.vocab === m2.vocab &&
      m3.nBuckets === m2.nBuckets)
    assert(m3.stats.orderBy($"idx").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq === sideBefore)
    // crash between the two renames: live moved to .old, nothing
    // published — the next compact must heal, then fold
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(graft.util.DirSwap.oldPath(dir))))
    spark.catalog.refreshByPath(dir)
    SparseIndex.compact(spark, dir)
    val healed = SparseIndex.load(spark, dir)
    assert(SparseIndex.search(healed, words, 15)
      .as[(Long, Long)].collect().toSeq === before)
  }

  test("load heals a compaction torn between its two renames: the " +
      "pre-compaction index survives intact") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_torn").toString + "/idx"
    val corpus = docs.where($"doc_id" < 200)
    val base = SparseIndex.build(corpus.where($"doc_id" % 2 === 0),
      "doc_id", "text", dir, nBuckets = 8)
    val m = SparseIndex.append(base, corpus.where($"doc_id" % 2 =!= 0),
      "doc_id", "text")
    val words = Seq("table", "scan", "fast")
    val before = SparseIndex.search(m, words, 15)
      .as[(Long, Long)].collect().toSeq
    // the torn state: live renamed away, fresh not yet published
    val live = new java.io.File(dir)
    val old = new java.io.File(graft.util.DirSwap.oldPath(dir))
    val fresh = new java.io.File(graft.util.DirSwap.rebuildPath(dir))
    assert(live.renameTo(old))
    assert(fresh.mkdirs()) // half-written rebuild, must be discarded
    spark.catalog.refreshByPath(dir)
    val healed = SparseIndex.load(spark, dir)
    assert(live.exists() && !old.exists() && !fresh.exists())
    assert(SparseIndex.search(healed, words, 15)
      .as[(Long, Long)].collect().toSeq === before)
  }

  test("load heals a sidecar swap of append torn between its two " +
      "renames: _stats and _meta come back, search is unchanged") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_side").toString + "/idx"
    val corpus = docs.where($"doc_id" < 200)
    val base = SparseIndex.build(corpus.where($"doc_id" % 2 === 0),
      "doc_id", "text", dir, nBuckets = 8)
    val m = SparseIndex.append(base, corpus.where($"doc_id" % 2 =!= 0),
      "doc_id", "text")
    val words = Seq("table", "scan", "fast")
    val before = SparseIndex.search(m, words, 15)
      .as[(Long, Long)].collect().toSeq
    for (name <- Seq("_stats", "_meta")) {
      // the torn state: the sidecar renamed away, its refresh not yet
      // published
      val live = new java.io.File(s"$dir/$name")
      val old = new java.io.File(graft.util.DirSwap.oldPath(live.getPath))
      val fresh = new java.io.File(
        graft.util.DirSwap.rebuildPath(live.getPath))
      assert(live.renameTo(old))
      assert(fresh.mkdirs()) // half-written refresh, must be discarded
      spark.catalog.refreshByPath(dir)
      val healed = SparseIndex.load(spark, dir)
      assert(live.exists() && !old.exists() && !fresh.exists(), name)
      assert(healed.nDocs === m.nDocs, name)
      assert(SparseIndex.search(healed, words, 15)
        .as[(Long, Long)].collect().toSeq === before, name)
    }
  }

  test("build validates nBuckets and the meta round-trips") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_idx2").toString + "/idx"
    intercept[IllegalArgumentException] {
      SparseIndex.build(docs, "doc_id", "text", dir, nBuckets = 0)
    }
    val m = SparseIndex.build(docs.where($"doc_id" < 50), "doc_id",
      "text", dir, nBuckets = 8)
    assert(m.nBuckets === 8)
    val loaded = SparseIndex.load(spark, dir)
    assert(loaded.nBuckets === 8 && loaded.nDocs === m.nDocs)
  }

  test("delete tombstones documents: invisible immediately (stale idf " +
      "by contract), compact purges + heals df/n_docs, sidecar clears") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_delspec").toString + "/idx"
    val words = Seq("table", "scan", "fast")
    val corpus = docs.where($"doc_id" < 200)
    val m0 = SparseIndex.build(corpus, "doc_id", "text", dir,
      nBuckets = 16)
    // doom the current top hit so the invisibility check has teeth
    val top = SparseIndex.search(m0, words, 1)
      .select($"id").as[Long].collect().head
    assert(SparseIndex.delete(spark, dir,
      corpus.where($"doc_id" === top).select($"doc_id")) == 1L)
    assert(new java.io.File(s"$dir/_deleted").exists())
    // immediately invisible on a reload; stats sidecar still the old
    // one (df heals only at compact — the delete is O(ids))
    val m1 = SparseIndex.load(spark, dir)
    val afterDelete = SparseIndex.search(m1, words, 10)
      .select($"id").as[Long].collect()
    assert(!afterDelete.contains(top), "tombstoned doc still served")
    assert(m1.nDocs == m0.nDocs, "n_docs must heal at compact, not delete")
    // compact purges rows, clears the sidecar, recomputes df/n_docs —
    // search must now equal a FRESH build over the remaining corpus
    // (idf healed, not just rows dropped)
    SparseIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/_deleted").exists(),
      "compact did not clear the tombstone sidecar")
    val m2 = SparseIndex.load(spark, dir)
    assert(m2.nDocs == m0.nDocs - 1, s"n_docs not healed: ${m2.nDocs}")
    assert(m2.postings.where($"id" === top).count() == 0,
      "purge left tombstoned postings on disk")
    val freshDir = java.nio.file.Files
      .createTempDirectory("graft_sparse_delspec2").toString + "/idx"
    val fresh = SparseIndex.build(corpus.where($"doc_id" =!= top),
      "doc_id", "text", freshDir, nBuckets = 16)
    val got = SparseIndex.search(m2, words, 10)
      .as[(Long, Long)].collect().toSeq
    val want = SparseIndex.search(fresh, words, 10)
      .as[(Long, Long)].collect().toSeq
    assert(got === want, "post-compact scoring differs from a fresh " +
      "build over the remaining corpus")
  }

  test("full purge: tombstoning EVERY document still compacts to a " +
      "valid empty index that loads, searches empty, and re-appends") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sparse_purge").toString + "/idx"
    val corpus = docs.where($"doc_id" < 40)
    SparseIndex.build(corpus, "doc_id", "text", dir, nBuckets = 8)
    assert(SparseIndex.delete(spark, dir,
      corpus.select($"doc_id")) == 40L)
    // the compact must publish (not abort on the missing bucket dirs)
    SparseIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/_deleted").exists())
    val m = SparseIndex.load(spark, dir)
    assert(m.nDocs == 0L, s"n_docs should be 0, got ${m.nDocs}")
    assert(m.postings.count() == 0L)
    assert(SparseIndex.search(m, Seq("table", "scan"), 5)
      .collect().isEmpty)
    // the empty index is still a live artifact: append works and the
    // next compact folds back to a normal bucketed layout
    SparseIndex.append(m, corpus.where($"doc_id" < 10),
      "doc_id", "text")
    val m2 = SparseIndex.load(spark, dir)
    assert(m2.postings.select($"id").distinct().count() == 10L)
    assert(SparseIndex.search(m2, Seq("table", "scan"), 5)
      .collect().nonEmpty)
  }
}
