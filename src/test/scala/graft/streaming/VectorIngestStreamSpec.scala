package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.{IvfIndex, Knn}
import graft.operators.IvfIndex.StorageKind
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class VectorIngestStreamSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private def tmp(): String =
    Files.createTempDirectory("vecingest").toString

  private def exactPairs(corpus: org.apache.spark.sql.DataFrame) = {
    val queries = emb.where($"vec_id" < 10)
    Knn.topK(corpus, queries, "vec_id", "embedding", 10)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
  }

  test("streamed arrivals become searchable without a rebuild and " +
      "match exact kNN at full probe") {
    implicit val sqlCtx = spark.sqlContext
    val idx = tmp() + "/idx"
    val resident = emb.where($"vec_id" % 2 === 0)
    IvfIndex.build(resident, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(idx))
    val mem = MemoryStream[(Long, Seq[Float])]
    val vecs = mem.toDF().toDF("vec_id", "embedding")
    val q = VectorIngestStream.start(spark, vecs, "vec_id", "embedding",
      idx, tmp())
    val odd = emb.where($"vec_id" % 2 =!= 0)
      .select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
    val (h1, h2) = odd.splitAt(odd.length / 2)
    mem.addData(h1.toSeq); q.processAllAvailable()
    mem.addData(h2.toSeq); q.processAllAvailable()
    q.stop()
    val model = VectorIngestStream.openModel(spark, idx, "vec_id",
      "embedding")
    val got = IvfIndex.search(model, emb.where($"vec_id" < 10),
      k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(got === exactPairs(emb))
    // probe pruning reaches BOTH scan branches of the union
    val p = IvfIndex.search(model, emb.where($"vec_id" < 10),
      k = 10, nprobe = 2).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findAllIn(p).size >= 2, s"arrival branch not pruned:\n$p")
  }

  test("compaction folds arrivals into a fresh self-contained index " +
      "with identical search results and no stream subtree") {
    val root = tmp(); val idx = s"$root/idx"
    val resident = emb.where($"vec_id" % 2 === 0)
    val base = IvfIndex.build(resident, "vec_id", "embedding",
      nCells = 8, maxIter = 5, indexDir = Some(idx))
    VectorIngestStream.processBatch(emb.where($"vec_id" % 2 =!= 0),
      0L, base.centroids, "vec_id", "embedding", idx)
    val before = IvfIndex.search(
      VectorIngestStream.openModel(spark, idx, "vec_id", "embedding"),
      emb.where($"vec_id" < 10), k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val compacted = VectorIngestStream.compact(spark, idx, "vec_id",
      "embedding", s"$root/idx2")
    assert(compacted.assigned.count() === emb.count())
    // one flat cell layout, no _stream subtree, sidecar reopens
    assert(!new java.io.File(s"$root/idx2/_stream").exists())
    val after = IvfIndex.search(compacted, emb.where($"vec_id" < 10),
      k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(after === before)
    assert(after === exactPairs(emb)) // full probe stays exact
    // the build-time id record travels with the other sidecars
    assert(IvfIndex.metaIdCol(spark, s"$root/idx2") === Some("vec_id"))
    // the SOURCE index is untouched (swap-then-delete is the caller's)
    assert(new java.io.File(s"$idx/_stream").exists())
  }

  test("a BQ base index keeps its two-stage search through ingest: " +
      "stored bits for residents, tail-computed bits for arrivals, " +
      "and compaction emits a BQ artifact") {
    val root = tmp(); val idx = s"$root/idx"
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val base = IvfIndex.buildWithCentroids(
      emb.where($"vec_id" % 2 === 0), "vec_id", "embedding", cents,
      Some(idx), kind = StorageKind.Bq)
    VectorIngestStream.processBatch(emb.where($"vec_id" % 2 =!= 0),
      0L, base.centroids, "vec_id", "embedding", idx)
    val model = VectorIngestStream.openModel(spark, idx, "vec_id",
      "embedding")
    // full probe + corpus-wide shortlist through the BQ path == exact
    // kNN over resident + streamed rows
    val got = IvfIndex.search(model, emb.where($"vec_id" < 10),
        k = 10, nprobe = 8, shortlist = emb.count().toInt)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(got === exactPairs(emb))
    // compaction keeps the bits column: the folded artifact reopens
    // as a BQ index and serves the same results
    val compacted = VectorIngestStream.compact(spark, idx, "vec_id",
      "embedding", s"$root/idx2")
    assert(compacted.assigned.columns.contains("bits"))
    val after = IvfIndex.search(compacted,
        emb.where($"vec_id" < 10), k = 10, nprobe = 8,
        shortlist = emb.count().toInt)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(after === got)
  }

  test("an F16 base index keeps its half-precision payload through " +
      "ingest (floats never materialize in the union) and compaction " +
      "emits an F16 artifact") {
    import graft.functions.{VectorFunctions => V}
    val root = tmp(); val idx = s"$root/idx"
    val cents = emb.where($"vec_id" < 8).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val base = IvfIndex.buildWithCentroids(
      emb.where($"vec_id" % 2 === 0), "vec_id", "embedding", cents,
      Some(idx), kind = StorageKind.F16)
    VectorIngestStream.processBatch(emb.where($"vec_id" % 2 =!= 0),
      0L, base.centroids, "vec_id", "embedding", idx)
    val model = VectorIngestStream.openModel(spark, idx, "vec_id",
      "embedding")
    assert(model.assigned.columns.contains("half") &&
      !model.assigned.columns.contains("embedding"))
    // full probe over the ingested union == brute force over the f16
    // grid of resident + streamed rows
    val dec = emb.select($"vec_id",
      V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
    val expect = Knn.topK(dec, dec.where($"vec_id" < 10), "vec_id",
        "embedding", 10)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    val got = IvfIndex.search(model, emb.where($"vec_id" < 10),
        k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(got === expect)
    // compaction keeps the half column and the folded artifact serves
    // the same results
    val compacted = VectorIngestStream.compact(spark, idx, "vec_id",
      "embedding", s"$root/idx2")
    assert(compacted.assigned.columns.contains("half") &&
      !compacted.assigned.columns.contains("embedding"))
    val after = IvfIndex.search(compacted,
        emb.where($"vec_id" < 10), k = 10, nprobe = 8)
      .select($"qid", $"nid").as[(Long, Long)].collect().toSet
    assert(after === got)
  }

  test("replaying a batch rewrites its own subtree (idempotent), and " +
      "the resident index files are untouched") {
    val idx = tmp() + "/idx"
    val resident = emb.where($"vec_id" % 2 === 0)
    IvfIndex.build(resident, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(idx))
    val residentFiles = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell_id=")).flatMap(_.listFiles())
      .map(f => f.getName -> f.lastModified()).toMap
    val cents = spark.read.parquet(s"$idx/_centroids")
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1).map(_._2)
    val arrivals = emb.where($"vec_id" % 2 =!= 0)
      .select($"vec_id", $"embedding")
    VectorIngestStream.processBatch(arrivals, 0L, cents, "vec_id",
      "embedding", idx)
    VectorIngestStream.processBatch(arrivals, 0L, cents, "vec_id",
      "embedding", idx) // crash-replay of the same batch
    val model = VectorIngestStream.openModel(spark, idx, "vec_id",
      "embedding")
    // no double-append: every id appears exactly once
    assert(model.assigned.count() === emb.count())
    assert(model.assigned.groupBy($"vec_id").count()
      .where($"count" > 1).count() === 0)
    // arrivals never rewrite resident cell files
    val after = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell_id=")).flatMap(_.listFiles())
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after === residentFiles, "resident files were rewritten")
  }
}
