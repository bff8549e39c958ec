package graft.operators

import graft.SparkSuite
import graft.operators.IvfIndex.StorageKind
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val queries = emb.where($"vec_id" < 10)
  private lazy val model = IvfIndex.build(emb, "vec_id", "embedding",
    nCells = 16, maxIter = 5)

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select($"qid", $"nid").as[(Long, Long)].collect().toSet

  test("search prunes unprobed cells at the storage layer") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val p = IvfIndex.search(model, queries, k = 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), s"no partition pruning:\n$p")
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(p).isDefined,
      s"probe IN filter not pushed to partitions:\n$p")
    // the on-disk index really is hive-partitioned by cell
    val dirs = new java.io.File(model.indexPath).listFiles()
    assert(dirs != null && dirs.exists(_.getName.startsWith("cell_id=")))
  }

  test("build memoizes the model per (corpus, params)") {
    val again = IvfIndex.build(emb, "vec_id", "embedding",
      nCells = 16, maxIter = 5)
    assert(again eq model) // same Model instance — one write, N searches
  }

  test("probing ALL cells reproduces exact kNN") {
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val full = pairs(IvfIndex.search(model, queries, k = 10, nprobe = 16))
    assert(full === exact)
  }

  test("append absorbs a batch with frozen centroids: no k-means, new " +
      "files inside existing cell dirs, search sees old + new") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_append_spec").toString
    val resident = emb.where($"vec_id" % 2 === 0)
    val arriving = emb.where($"vec_id" % 2 =!= 0)
    val base = IvfIndex.build(resident, "vec_id", "embedding",
      nCells = 8, maxIter = 5, indexDir = Some(s"$tmp/idx"))
    val cellDirs = new java.io.File(base.indexPath).listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    val appended = IvfIndex.append(base, arriving)
    // the coarse quantizer is frozen — same centroid array, no re-train
    assert(appended.centroids eq base.centroids)
    // appends land inside the EXISTING cell layout (no new cells)
    val after = new java.io.File(base.indexPath).listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).toSet
    assert(after === cellDirs, s"cell layout changed: $after vs $cellDirs")
    // full probe over the appended index == exact kNN over the union
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val got = pairs(IvfIndex.search(appended, queries, k = 10, nprobe = 8))
    assert(got === exact)
    // the resident model object is untouched by design: reopening the
    // path (what a daily-batch job does) also sees both halves
    val reopened = IvfIndex.load(spark, base.indexPath, "vec_id",
      "embedding")
    assert(reopened.assigned.count() === emb.count())
  }

  test("append drops the memoized build of its path: a rebuild after an " +
      "append writes a fresh index") {
    val base = emb.where($"vec_id" % 3 === 0)
    def build() = IvfIndex.build(base, "vec_id", "embedding", nCells = 5,
      maxIter = 3)
    IvfIndex.append(build(), emb.where($"vec_id" % 3 === 1))
    val b2 = emb.where($"vec_id" % 3 === 2)
    val grown = IvfIndex.append(build(), b2)
    assert(grown.assigned.count() === base.count() + b2.count())
  }

  test("the build memo keys on the centroid bits: two tables whose " +
      "deepHashCodes collide over one corpus give two indexes") {
    val corpus = Seq((1L, Seq(0.5f, 0.25f)), (2L, Seq(2.0f, 1.5f)))
      .toDF("id", "vec")
    val one = java.lang.Float.floatToIntBits(1.0f)
    val a = Array(Array(1.0f, 1.0f))
    // +1 in the first bit pattern, -31 in the second: the row hash is
    // 31 * h(first) + h(second), so both tables hash alike
    val b = Array(Array(java.lang.Float.intBitsToFloat(one + 1),
      java.lang.Float.intBitsToFloat(one - 31)))
    def bits(cs: Array[Array[Float]]): Object =
      cs.map(_.map(java.lang.Float.floatToIntBits))
    assert(java.util.Arrays.deepHashCode(Array(bits(a))) ===
      java.util.Arrays.deepHashCode(Array(bits(b))), "fixture must collide")
    val ma = IvfIndex.buildWithCentroids(corpus, "id", "vec", a)
    val mb = IvfIndex.buildWithCentroids(corpus, "id", "vec", b)
    assert(mb ne ma)
    assert(mb.indexPath !== ma.indexPath)
    assert(IvfIndex.load(spark, mb.indexPath, "id", "vec").centroids
      .map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("partial probing keeps high recall at a fraction of the scan") {
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val ivf = pairs(IvfIndex.search(model, queries, k = 10, nprobe = 4))
    val recall = (ivf & exact).size.toDouble / exact.size
    assert(ivf.subsetOf(exact) || recall > 0.5) // sane approximation
    assert(recall >= 0.5, s"recall $recall too low")
    // self is in its own cell → always found
    val self = IvfIndex.search(model, queries, 1, 1)
      .where($"rank" === 1).select($"qid", $"nid")
      .as[(Long, Long)].collect()
    assert(self.forall { case (q, n) => q == n })
  }

  test("IVF-PQ ADC search approximates exact ranking") {
    val cb = ProductQuantizer.fitCodebook(emb, "vec_id", "embedding",
      clusters = 32, splits = 8, maxIter = 10)
    val quantized = ProductQuantizer.quantizeColumn(
      model.assigned, "embedding", "codes", cb)
    val adc = pairs(IvfIndex.searchAdc(model, quantized, "codes", cb,
      queries, k = 10, nprobe = 16))
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val overlap = (adc & exact).size.toDouble / exact.size
    assert(overlap >= 0.3, s"ADC overlap $overlap implausibly low")
    // ADC distances are reconstructions: top-1 should still be self
    // for most queries (quantization error is symmetric)
    val top1 = IvfIndex.searchAdc(model, quantized, "codes", cb,
      queries, 1, 16).select($"qid", $"nid").as[(Long, Long)].collect()
    assert(top1.count { case (q, n) => q == n } >= 5)
  }

  test("filtered ANN pushes the metadata predicate to the probed-cell " +
      "scan next to the partition filter") {
    val filtered = IvfIndex.search(model, queries, k = 5, nprobe = 2,
      filter = Some(org.apache.spark.sql.functions.col("label") === 3))
    val p = filtered.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(p).isDefined, s"cell pruning lost:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)]")
      || p.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the scan:\n$p")
    // and the result equals brute force over the filtered slice
    val emb2 = emb.where($"label" === 3)
    val exact = pairs(Knn.topK(emb2, queries, "vec_id", "embedding", 5))
    val full = pairs(IvfIndex.search(model, queries, k = 5, nprobe = 16,
      filter = Some(org.apache.spark.sql.functions.col("label") === 3)))
    assert(full === exact)
  }

  test("append into an sq8 index keeps the compressed read path: int8 " +
      "ReadSchema and partition pruning survive absorption") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivfsq_append_spec").toString
    val m0 = IvfIndex.build(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", nCells = 8, maxIter = 5,
      indexDir = Some(s"$tmp/idx"), kind = StorageKind.Sq8())
    val m1 = IvfIndex.append(m0, emb.where($"vec_id" % 2 =!= 0))
    assert(m1.assigned.count() === emb.count())
    val p = IvfIndex.search(m1, queries, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(p).isDefined, s"pruning lost after append:\n$p")
    assert(p.contains("smallint"), s"append broke the int8 read:\n$p")
  }

  test("a built index reloads as a durable artifact and searches " +
      "identically — no k-means, no corpus scan") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString +
      "/index"
    val built = IvfIndex.build(emb, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(dir))
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    assert(loaded.centroids.length === built.centroids.length)
    assert(loaded.centroids.zip(built.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    val queries = emb.where($"vec_id" < 5)
    def res(m: IvfIndex.Model) =
      IvfIndex.search(m, queries, k = 5, nprobe = 8)
        .select($"qid", $"nid", $"rank").as[(Long, Long, Int)]
        .collect().toSet
    assert(res(loaded) === res(built))
    // the loaded assignment still prunes at the storage layer
    val plan = IvfIndex.search(loaded, queries, 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("cell_id"), "partition column lost on reload")
  }

  test("SQ8 index: probes prune partitions AND read int8 codes, " +
      "not float vectors; full probe equals brute force over the " +
      "dequantized corpus") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val sqModel = IvfIndex.build(
      emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      nCells = 8, maxIter = 5, kind = StorageKind.Sq8())
    val q = emb.where($"vec_id" < 10).select($"vec_id", $"embedding")
    val p = IvfIndex.search(sqModel, q, k = 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(p).isDefined,
      s"probe IN filter not pushed to partitions:\n$p")
    // scope to the INDEX scan line (the query side reads floats by
    // design): the probed cells must move int8 codes, never vectors
    val idxScan = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(sqModel.indexPath))
      .toSeq
    assert(idxScan.nonEmpty, s"no index scan found:\n$p")
    assert(idxScan.forall(_.contains("sq:array<smallint>")),
      s"probed cells must read int8 codes:\n${idxScan.mkString("\n")}")
    assert(idxScan.forall(!_.contains("array<float>")),
      s"the index scan must not read float vectors:\n" +
        idxScan.mkString("\n"))
    // full probe == brute force over dequantized codes
    val fit = ScalarQuantizer.fit(emb, "embedding")
    val rec = ScalarQuantizer.dequantize(
      ScalarQuantizer.quantize(
        emb.select($"vec_id", $"embedding"), "embedding", "sq", fit),
      "sq", "vhat", fit).select($"vec_id", $"vhat")
    val exact = pairs(Knn.topK(rec,
      emb.where($"vec_id" < 10).select($"vec_id", $"embedding".as("vhat")),
      "vec_id", "vhat", 10))
    val full = pairs(IvfIndex.search(sqModel, q, k = 10, nprobe = 8))
    assert(full === exact)
  }

  test("SQ8 index reloads as a durable artifact (centroid + scalar " +
      "sidecars) and searches identically") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq").toString +
      "/index"
    val built = IvfIndex.build(
      emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
      nCells = 8, maxIter = 5, indexDir = Some(dir),
      kind = StorageKind.Sq8())
    val loaded = IvfIndex.load(spark, dir, "vec_id", "embedding")
    val (StorageKind.Sq8(mn, mx), StorageKind.Sq8(lmn, lmx)) =
      (built.kind, loaded.kind): @unchecked
    assert(lmn.toSeq === mn.toSeq && lmx.toSeq === mx.toSeq)
    assert(loaded.centroids.zip(built.centroids)
      .forall { case (a, b) => a.sameElements(b) })
    val q = emb.where($"vec_id" < 5).select($"vec_id", $"embedding")
    def res(m: IvfIndex.Model) =
      IvfIndex.search(m, q, k = 5, nprobe = 8)
        .select($"qid", $"nid", $"rank").as[(Long, Long, Int)]
        .collect().toSet
    assert(res(loaded) === res(built))
  }

  test("append into a bits-bearing index packs bits for the arrivals " +
      "(they stay findable through the BQ shortlist); mixed-schema " +
      "merge is refused") {
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_bq_append").toString
    val half = IvfIndex.buildWithCentroids(
      emb.where($"vec_id" % 2 === 0), "vec_id", "embedding", cents,
      Some(s"$tmp/bq"), kind = StorageKind.Bq)
    val full = IvfIndex.append(half, emb.where($"vec_id" % 2 =!= 0))
    // appended rows carry non-null bits
    assert(full.assigned.where($"bits".isNull).count() === 0)
    // full probe + corpus-wide shortlist == exact kNN incl. arrivals
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val got = pairs(IvfIndex.search(full, queries, k = 10,
      nprobe = 16, shortlist = emb.count().toInt))
    assert(got === exact)
    // a plain shard cannot merge into a bq index (or vice versa)
    IvfIndex.buildWithCentroids(emb.where($"vec_id" < 20), "vec_id",
      "embedding", cents, Some(s"$tmp/plain"))
    val e = intercept[IllegalArgumentException] {
      IvfIndex.merge(spark, s"$tmp/bq", s"$tmp/plain", "vec_id",
        "embedding")
    }
    assert(e.getMessage.contains("bits"))
    // shards built under DIFFERENT id columns cannot merge either:
    // the appended rows would union parquet schemas and null the id
    // on one side of every later scan
    IvfIndex.buildWithCentroids(
      emb.where($"vec_id" >= 20 && $"vec_id" < 40)
        .withColumnRenamed("vec_id", "other_id"),
      "other_id", "embedding", cents, Some(s"$tmp/otherid"))
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.merge(spark, s"$tmp/plain", s"$tmp/otherid", "vec_id",
        "embedding")
    }
    assert(e2.getMessage.contains("_meta"), e2.getMessage)
  }

  test("F16 inverted file: the artifact stores halves ONLY (no float " +
      "column on disk), full probe reproduces brute force over the " +
      "f16 grid, and partial probe keeps partition pruning with a " +
      "smallint payload scan") {
    import graft.functions.{VectorFunctions => V}
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val f16 = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding",
      cents, kind = StorageKind.F16)
    assert(f16.assigned.columns.contains("half") &&
      !f16.assigned.columns.contains("embedding"),
      s"artifact columns: ${f16.assigned.columns.mkString(",")}")
    // symmetric f16 scoring at full probe == exact kNN over the
    // decoded grid (corpus AND queries rounded through binary16)
    val dec = emb.select($"vec_id",
      V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
    val exact = pairs(Knn.topK(dec, dec.where($"vec_id" < 10),
      "vec_id", "embedding", 10))
    val full = pairs(IvfIndex.search(f16, emb.where($"vec_id" < 10),
      k = 10, nprobe = 16))
    assert(full === exact)
    // partial probe: cell pruning reaches the storage layer and the
    // payload scan reads smallints, not floats
    val plan = IvfIndex.search(f16, queries, k = 10, nprobe = 4)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(plan).isDefined, s"probe pruning lost:\n$plan")
    assert("ReadSchema: [^\\n]*smallint".r.findFirstIn(plan).isDefined,
      s"no smallint payload scan:\n$plan")
    // metadata filter: equals brute force over the filtered grid
    val exactF = pairs(Knn.topK(
      emb.where($"label" === 3).select($"vec_id",
        V.fp16_decode(V.fp16_encode($"embedding")).as("embedding")),
      dec.where($"vec_id" < 10), "vec_id", "embedding", 5))
    val fullF = pairs(IvfIndex.search(f16, emb.where($"vec_id" < 10),
      k = 5, nprobe = 16, filter = Some($"label" === 3)))
    assert(fullF === exactF)
  }

  test("append on an F16 index encodes arrivals to halves inside the " +
      "existing layout — no float column ever lands in the artifact") {
    import graft.functions.{VectorFunctions => V}
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_f16_append_spec").toString
    val base = IvfIndex.buildWithCentroids(
      emb.where($"vec_id" % 2 === 0), "vec_id", "embedding", cents,
      Some(s"$tmp/idx"), kind = StorageKind.F16)
    val appended = IvfIndex.append(base, emb.where($"vec_id" % 2 =!= 0))
    assert(!appended.assigned.columns.contains("embedding"),
      appended.assigned.columns.mkString(","))
    assert(appended.assigned.where($"half".isNull).count() === 0)
    assert(appended.assigned.count() === emb.count())
    // full probe over the appended index == f16-grid brute force
    val dec = emb.select($"vec_id",
      V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
    val exact = pairs(Knn.topK(dec, dec.where($"vec_id" < 10),
      "vec_id", "embedding", 10))
    val got = pairs(IvfIndex.search(appended,
      emb.where($"vec_id" < 10), k = 10, nprobe = 16))
    assert(got === exact)
  }

  test("an sq8 buildWithCentroids freezes the coarse quantizer; full probe " +
      "equals brute force over the dequantized corpus") {
    import graft.functions.{VectorFunctions => V}
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val m = IvfIndex.buildWithCentroids(
      emb, "vec_id", "embedding", cents, kind = StorageKind.Sq8())
    val StorageKind.Sq8(mn, mx) = m.kind: @unchecked
    assert(m.centroids eq cents) // frozen, no retrain
    assert(m.assigned.columns.contains("sq") &&
      !m.assigned.columns.contains("embedding"))
    // full probe == brute force of (dequantized corpus) vs raw queries
    val got = pairs(IvfIndex.search(m,
      emb.where($"vec_id" < 10), 10, nprobe = 16))
    val sqDf = m.assigned.select($"vec_id",
      V.col(graft.functions.Sq8Decode(V.expr($"sq"), new graft.functions.DoubleVecParam(mn), new graft.functions.DoubleVecParam(mx)))
        .as("embedding"))
    val exact = pairs(Knn.topK(sqDf, emb.where($"vec_id" < 10)
      .select($"vec_id", $"embedding"), "vec_id", "embedding", 10))
    assert(got === exact)
  }

  test("a source table carrying a reserved artifact column ('bits', " +
      "'half' or 'cell_id') is refused at build time on every build path") {
    // 'bits' presence is how a served artifact is recognized as BQ —
    // a plain build over a table with its own bits column would be
    // misreported as bq and then fail the search type check
    val withBits = emb.withColumn("bits", lit(1L))
    val withCell = emb.withColumn("cell_id", lit(0))
    val withHalf = emb.withColumn("half", lit(1.toShort))
    for (bad <- Seq(withBits, withCell, withHalf)) {
      val e1 = intercept[IllegalArgumentException] {
        IvfIndex.build(bad, "vec_id", "embedding", nCells = 4, maxIter = 2)
      }
      assert(e1.getMessage.contains("reserved"))
      val cents = Array(Array.fill(16)(0f), Array.fill(16)(1f))
      val e2 = intercept[IllegalArgumentException] {
        IvfIndex.buildWithCentroids(bad, "vec_id", "embedding", cents)
      }
      assert(e2.getMessage.contains("reserved"))
      val e3 = intercept[IllegalArgumentException] {
        IvfIndex.buildWithCentroids(bad, "vec_id", "embedding", cents,
          kind = StorageKind.Bq)
      }
      assert(e3.getMessage.contains("reserved"))
      val e4 = intercept[IllegalArgumentException] {
        IvfIndex.build(bad, "vec_id", "embedding", nCells = 4,
          maxIter = 2, kind = StorageKind.Sq8())
      }
      assert(e4.getMessage.contains("reserved"))
      val e5 = intercept[IllegalArgumentException] {
        IvfIndex.buildWithCentroids(bad, "vec_id", "embedding", cents,
          kind = StorageKind.F16)
      }
      assert(e5.getMessage.contains("reserved"))
    }
  }

  test("a bq search at full probe with a corpus-wide shortlist " +
      "reproduces exact kNN; a metadata filter applies inside the " +
      "shortlist scan") {
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val bq = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding",
      cents, kind = StorageKind.Bq)
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 10))
    val full = pairs(IvfIndex.search(bq, queries, k = 10,
      nprobe = 16, shortlist = emb.count().toInt))
    assert(full === exact)
    // filtered: equals brute force over the filtered corpus — the
    // filter rides the shortlist scan, so slots are never wasted on
    // candidates the predicate would drop
    val exactF = pairs(Knn.topK(emb.where($"label" === 3), queries,
      "vec_id", "embedding", 5))
    val fullF = pairs(IvfIndex.search(bq, queries, k = 5,
      nprobe = 16, shortlist = emb.count().toInt,
      filter = Some($"label" === 3)))
    assert(fullF === exactF)
  }

  test("BQ shortlist pass reads bits, never the float column; pruning " +
      "and the rescore contract hold at partial probe") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val bq = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding",
      cents, kind = StorageKind.Bq)
    val plan = IvfIndex.search(bq, queries, k = 10, nprobe = 4,
      shortlist = 40).queryExecution.executedPlan.toString
    // BOTH artifact scans carry the probe-set PartitionFilter: the
    // bits shortlist pass AND the float rescore pass — shortlisted ids
    // only live in probed cells, so the rescore must not scan the
    // float column of unprobed cells
    val pruned = "PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findAllIn(plan).size
    assert(pruned >= 2, s"expected pruning on both scans, got $pruned:\n$plan")
    // two scans of the artifact: the hamming pass must project
    // (vec_id, bits) only — its ReadSchema has no float array — while
    // the refine pass reads the floats for shortlist ids
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toList
      .filter(_.contains("bigint"))
    assert(reads.exists(r => r.contains("bits") && !r.contains("float")),
      s"no bits-only scan found:\n$plan")
    // rescore order is exact within the shortlist: every returned rank
    // matches the true distance order over the returned set
    val out = IvfIndex.search(bq, queries, k = 10, nprobe = 4,
        shortlist = 40)
      .select($"qid", $"rank", $"dist").as[(Long, Int, Double)]
      .collect().groupBy(_._1)
    out.values.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.sameElements(sorted.sorted), "rescore order broken")
    }
  }

  test("delete tombstones ids: O(ids) sidecar write, search excludes " +
      "them, partition pruning survives, compact purges physically") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_delete_spec").toString
    val m0 = IvfIndex.build(emb, "vec_id", "embedding",
      nCells = 8, maxIter = 5, indexDir = Some(s"$tmp/idx"), force = true)
    val doomed = emb.where($"vec_id" < 5).select($"vec_id")
    val partsBefore = new java.io.File(m0.indexPath).listFiles()
      .filter(_.getName.startsWith("cell_id=")).flatMap(_.listFiles())
      .map(_.lastModified()).toSeq
    assert(IvfIndex.delete(spark, m0.indexPath, doomed) == 5L)
    // no cell file was rewritten by the delete itself
    val partsAfter = new java.io.File(m0.indexPath).listFiles()
      .filter(_.getName.startsWith("cell_id=")).flatMap(_.listFiles())
      .map(_.lastModified()).toSeq
    assert(partsAfter == partsBefore, "delete rewrote cell files")
    assert(new java.io.File(s"${m0.indexPath}/_deleted").exists())
    // a reloaded model excludes the ids at FULL probe (exact regime)
    val m1 = IvfIndex.load(spark, m0.indexPath, "vec_id", "embedding")
    val got = pairs(IvfIndex.search(m1, queries, k = 10, nprobe = 8))
    val exactRemaining = pairs(Knn.topK(emb.where($"vec_id" >= 5),
      queries, "vec_id", "embedding", 10))
    assert(got === exactRemaining)
    assert(!got.exists(_._2 < 5), "a deleted id surfaced in search")
    // the cell IN filter still reaches the scan through the anti-join
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val p = IvfIndex.search(m1, queries, k = 10, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[cell_id#\\d+ (IN|INSET)".r
      .findFirstIn(p).isDefined,
      s"pruning lost under tombstones:\n$p")
    // a RE-APPENDED doomed id stays invisible until compact
    val reAdd = emb.where($"vec_id" === 3L)
    val m2 = IvfIndex.append(m1, reAdd)
    assert(!pairs(IvfIndex.search(m2, queries, k = 10, nprobe = 8))
      .exists(_._2 == 3L), "tombstoned id resurfaced via append")
    // compact purges rows AND clears the sidecar; results unchanged
    IvfIndex.compact(spark, m0.indexPath)
    assert(!new java.io.File(s"${m0.indexPath}/_deleted").exists(),
      "compact did not clear the tombstone sidecar")
    val m3 = IvfIndex.load(spark, m0.indexPath, "vec_id", "embedding")
    assert(pairs(IvfIndex.search(m3, queries, k = 10, nprobe = 8))
      === exactRemaining)
    assert(m3.assigned.where($"vec_id" < 5).count() == 0,
      "purge left tombstoned rows on disk")
    // after the purge, re-appending a previously deleted id works
    val m4 = IvfIndex.append(m3, emb.where($"vec_id" === 2L))
    assert(pairs(IvfIndex.search(m4, queries, k = 10, nprobe = 8))
      .exists(_._2 == 2L), "re-append after purge not visible")
  }

  test("delete refuses a mis-named id column") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_delete_guard").toString
    val m0 = IvfIndex.build(emb, "vec_id", "embedding",
      nCells = 4, maxIter = 3, indexDir = Some(s"$tmp/idx"), force = true)
    val e = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, m0.indexPath,
        emb.limit(1).select($"vec_id".as("nope")))
    }
    assert(e.getMessage.contains("not a column of the index"))
  }

  test("delete refuses non-id artifact columns (cell_id, the vector) " +
      "and a second delete under a DIFFERENT id column name") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_delete_guard2").toString
    val m0 = IvfIndex.build(emb, "vec_id", "embedding",
      nCells = 4, maxIter = 3, indexDir = Some(s"$tmp/idx"), force = true)
    // cell_id would anti-join away whole cells
    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, m0.indexPath,
        emb.limit(1).select(lit(0).as("cell_id")))
    }
    assert(e1.getMessage.contains("cell_id"))
    // a non-id artifact column (the vector) is not an identity: the
    // build-time _meta record rejects it by name
    val e2 = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, m0.indexPath,
        emb.limit(1).select($"embedding"))
    }
    assert(e2.getMessage.contains("not the index's id column"))
    // an integral PAYLOAD column is still not an identity: the
    // build-time _meta record rejects it even as the FIRST delete
    // (it would anti-join the payload against itself and remove the
    // wrong rows). Needs an index whose artifact carries a second
    // integral column.
    val withAlt = emb.withColumn("alt_id", $"vec_id" + 1000000L)
    val m1 = IvfIndex.build(withAlt, "vec_id", "embedding",
      nCells = 4, maxIter = 3, indexDir = Some(s"$tmp/idx2"),
      force = true)
    assert(IvfIndex.delete(spark, m1.indexPath,
      withAlt.where($"vec_id" === 1L).select($"vec_id")) == 1L)
    val e3 = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, m1.indexPath,
        withAlt.where($"vec_id" === 2L).select($"alt_id"))
    }
    assert(e3.getMessage.contains("_meta"))
    // the SAME name keeps appending fine
    assert(IvfIndex.delete(spark, m1.indexPath,
      withAlt.where($"vec_id" === 2L).select($"vec_id")) == 1L)
    // pre-_meta artifacts (built before the sidecar existed) fall back
    // to the mixed-schema guard: two deletes naming DIFFERENT (both
    // valid, both integral) artifact columns would append parquet
    // files whose merged read nulls the older files and silently
    // RESURFACES their tombstones — the second name must be rejected.
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"${m1.indexPath}/_meta"))
    val e4 = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, m1.indexPath,
        withAlt.where($"vec_id" === 3L).select($"alt_id"))
    }
    assert(e4.getMessage.contains("already tombstones by"))
  }

  test("delete composes with the registered planner index via " +
      "IndexedKnn.deleteFromIndex") {
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_delete_knn").toString
    val dataDir = s"$tmp/emb.parquet"
    emb.write.mode("overwrite").parquet(dataDir)
    val corpus = spark.read.parquet(dataDir)
    IvfIndex.build(corpus, "vec_id", "embedding", nCells = 8,
      maxIter = 5, indexDir = Some(s"$tmp/idx"), force = true)
    graft.plans.IndexedKnn.register(spark, dataDir, s"$tmp/idx",
      "vec_id", "embedding", nprobe = 8, name = "del_spec")
    try {
      val n = graft.plans.IndexedKnn.deleteFromIndex(spark, "del_spec",
        emb.where($"vec_id" === 0L).select($"vec_id"))
      assert(n == 1L)
      val q: Seq[Float] = emb.where($"vec_id" === 0L)
        .select($"embedding").collect().head.getSeq[Float](0)
      val df = spark.read.parquet(dataDir)
        .select($"vec_id",
          graft.functions.VectorFunctions
            .l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(5)
      // the rewrite must actually fire (probe plan, not brute force)
      val fired = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution
            .datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
      assert(fired.exists(_.contains("idx")), s"rewrite silent: $fired")
      val served = df.select($"vec_id").as[Long].collect()
      // vec 0 is its own nearest neighbor in the corpus; after the
      // index delete the served plan cannot return it
      assert(!served.contains(0L), s"deleted id served: ${served.toSeq}")
    } finally graft.plans.IndexedKnn.unregister(spark, dataDir)
  }

  /** Jobs started while `f` runs (the listener bus is async, so let it
    * drain before reading the count).
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try f finally {
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
    }
    (out, jobs.get())
  }

  test("probe ties in centroid distance go to the lower cell index") {
    val a = emb.where($"vec_id" === 0L).select($"embedding").collect()
      .head.getSeq[Float](0).toArray
    // cells 0 and 1 are the same centroid; cell 2 is far from every
    // row, so the assignment (lower index on ties) fills cell 0 only
    val cents = Array(a, a.clone(), a.map(_ + 1000f))
    val tmp = java.nio.file.Files
      .createTempDirectory("ivf_probe_ties").toString
    val m = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      Some(s"$tmp/idx"))
    assert(m.assigned.where($"cell_id" =!= 0).count() === 0L)
    // nprobe 1 must probe cell 0: probing the empty twin would return
    // nothing, so the result equals exact kNN
    val exact = pairs(Knn.topK(emb, queries, "vec_id", "embedding", 5))
    assert(pairs(IvfIndex.search(m, queries, k = 5, nprobe = 1)) === exact)
  }

  test("an array<double> query column still searches") {
    val dq = queries.select($"vec_id",
      $"embedding".cast("array<double>").as("embedding"))
    assert(pairs(IvfIndex.search(model, dq, k = 10, nprobe = 4)) ===
      pairs(IvfIndex.search(model, queries, k = 10, nprobe = 4)))
  }

  test("a search over a local query batch plans its probes without a " +
      "Spark job") {
    val local = spark.createDataFrame(
      java.util.Arrays.asList(queries.collect(): _*), queries.schema)
    model.assigned.schema // the lazy build runs before counting
    val (res, planned) = jobsDuring(
      IvfIndex.search(model, local, k = 10, nprobe = 4))
    assert(planned === 0, "building the search plan launched Spark jobs")
    val (rows, ran) = jobsDuring(res.collect())
    assert(ran > 0, "the listener saw no job for the search itself")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      pairs(IvfIndex.search(model, queries, k = 10, nprobe = 4)))
  }

  test("a one-point search keeps its plan: every top-k aggregate groups " +
      "by qid alone, no Expand or Generate feeds the candidate top-k, " +
      "and a local batch plans its probes without a Spark job") {
    import org.apache.spark.sql.execution.{ExpandExec, GenerateExec,
      SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val local = spark.createDataFrame(
      java.util.Arrays.asList(queries.collect(): _*), queries.schema)
    val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
    val bq = IvfIndex.buildWithCentroids(emb, "vec_id", "embedding", cents,
      kind = StorageKind.Bq)
    def topKAggs(p: SparkPlan): Seq[BaseAggregateExec] = p.collect {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[TopKByScore]) => a
    }
    model.assigned.schema // the lazy build runs before counting
    for ((m, sl) <- Seq((model, 0), (bq, 20))) {
      val (res, planned) = jobsDuring(
        IvfIndex.search(m, local, k = 10, nprobe = 4, shortlist = sl))
      assert(planned === 0, s"${m.kind}: planning launched Spark jobs")
      val plan = res.queryExecution.sparkPlan
      val aggs = topKAggs(plan)
      assert(aggs.nonEmpty, s"${m.kind}: no top-k aggregate in\n$plan")
      for (a <- aggs)
        assert(a.groupingExpressions.map(_.references.map(_.name).toSeq) ===
          Seq(Seq("qid")), s"${m.kind}: top-k grouped by " +
          s"${a.groupingExpressions}")
      // the candidate top-k: the aggregates with no top-k below them
      val first = aggs.filter(a => a.child.collect {
        case b: BaseAggregateExec if topKAggs(b).nonEmpty => b
      }.isEmpty)
      for (a <- first)
        assert(a.child.collect {
          case e: ExpandExec => e: SparkPlan
          case g: GenerateExec => g
        }.isEmpty, s"${m.kind}: rows expanded under the top-k:\n$plan")
    }
  }

  test("a null query vector fails with an IllegalArgumentException " +
      "naming the qid") {
    val bad = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(7L, null)),
      queries.select($"vec_id", $"embedding").schema)
    val e = intercept[IllegalArgumentException](
      IvfIndex.search(model, bad, k = 3, nprobe = 2))
    assert(e.getMessage.contains("qid=7"), e.getMessage)
  }

  // One lifecycle over every storage kind: build under frozen centroids,
  // append, delete, compact, merge a shard encoded as the index stores
  // it, reload, then search at full probe. The answer must equal brute
  // force over the vectors as the kind scores them: f16 rounds corpus
  // and query through binary16, sq8 decodes the corpus through its
  // scalar model (the query stays full precision), and bq with a
  // corpus-wide shortlist rescores exactly like f32.
  for (name <- Seq("f32", "f16", "sq8", "bq"))
    test(s"the $name lifecycle (build, append, delete, compact, merge, " +
        "load) keeps full-probe search equal to brute force over the " +
        "kind's decoded vectors") {
      import graft.functions.{VectorFunctions => V}
      val cents = emb.where($"vec_id" < 16).orderBy($"vec_id")
        .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
      val tmp = java.nio.file.Files
        .createTempDirectory(s"ivf_lifecycle_$name").toString
      val built = IvfIndex.buildWithCentroids(emb.where($"vec_id" % 3 === 0),
        "vec_id", "embedding", cents, Some(s"$tmp/dest"),
        kind = StorageKind.byName(name))
      assert(built.kind.name === name)
      IvfIndex.append(built, emb.where($"vec_id" % 3 === 1))
      val doomed = $"vec_id" < 5 && $"vec_id" % 3 =!= 2
      assert(IvfIndex.delete(spark, s"$tmp/dest",
        emb.where(doomed).select($"vec_id")) === 4L)
      IvfIndex.compact(spark, s"$tmp/dest")
      IvfIndex.buildWithCentroids(emb.where($"vec_id" % 3 === 2),
        "vec_id", "embedding", cents, Some(s"$tmp/src"), kind = built.kind)
      IvfIndex.merge(spark, s"$tmp/dest", s"$tmp/src", "vec_id",
        "embedding")
      val m = IvfIndex.load(spark, s"$tmp/dest", "vec_id", "embedding")
      assert(m.kind === built.kind)
      val live = emb.where(!doomed)
      val n = live.count()
      assert(m.assigned.count() === n)
      val asIs = (c: Column) => c
      val f16 = (c: Column) => V.fp16_decode(V.fp16_encode(c))
      val (corpusVec, queryVec) = m.kind match {
        case StorageKind.F16 => (f16, f16)
        case StorageKind.Sq8(mn, mx) =>
          val (a, b) = (new graft.functions.DoubleVecParam(mn),
            new graft.functions.DoubleVecParam(mx))
          ((c: Column) => V.col(graft.functions.Sq8Decode(
            graft.functions.Sq8Encode(V.expr(c), a, b), a, b)), asIs)
        case _ => (asIs, asIs)
      }
      val exact = pairs(Knn.topK(
        live.select($"vec_id", corpusVec($"embedding").as("embedding")),
        queries.select($"vec_id", queryVec($"embedding").as("embedding")),
        "vec_id", "embedding", 10))
      val got = pairs(IvfIndex.search(m, queries, k = 10, nprobe = 16,
        shortlist = n.toInt))
      assert(got === exact)
    }
}
