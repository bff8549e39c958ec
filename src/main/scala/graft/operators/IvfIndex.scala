package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest-neighbor search — the scale
  * path for similarity search over embedding columns (brute-force
  * `Knn.topK` is the exact baseline; SURVEY §7.1 extensions).
  *
  * Standard IVF construction (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search"): k-means coarse centroids partition
  * the corpus into cells; a query probes only the `nprobe` nearest
  * cells. In Spark terms: the assignment is WRITTEN ONCE as parquet
  * partitioned by `cell_id`, so a probe's `cell_id IN (...)` filter
  * prunes at the storage layer — unprobed cells are never read, not
  * merely never scored. Scan volume per query batch is
  * ~nprobe/nCells of the corpus bytes; at 1000 executors over 100 TB
  * the scan skips the other cells' files entirely (PartitionFilters,
  * guarded by PlanSpec/IvfSpec).
  *
  * Optionally combine with PQ codes (IVF-PQ): `searchAdc` scores
  * candidates with asymmetric-distance lookup tables over u8 codes
  * instead of raw vectors — 64x less data motion for 64-dim floats.
  */
object IvfIndex {

  case class Model(centroids: Array[Array[Float]], assigned: DataFrame,
      idCol: String, vecCol: String, indexPath: String)

  // Builds are deterministic in (input plan, params); memoize the Model
  // so repeated searches over the same corpus (the registry trio, an
  // autotune sweep) share one k-means + one partitioned write per JVM.
  // indexDir is part of the key: a caller asking for a durable path
  // must not be served a memoized tmp-dir index.
  private val buildMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String, Int, Int, Long, Option[String]),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Model)]()
  // default index paths use a per-JVM directory + a build counter, so
  // no two builds (this JVM or another on the same box) can clobber a
  // live index directory; reuse across builds comes from the memo, not
  // from path determinism
  private val buildCounter = new java.util.concurrent.atomic.AtomicLong()
  private lazy val tmpBase =
    s"${System.getProperty("java.io.tmpdir")}/graft-ivf-" +
      java.lang.ProcessHandle.current().pid()

  /** Build: coarse k-means (reusing the PQ Lloyd with splits=1), assign
    * every row to its nearest cell, and write the assignment as parquet
    * partitioned by cell_id (the on-disk inverted file). `indexDir`
    * overrides where the index lands; default is the JVM temp dir —
    * production callers pass a durable path.
    */
  /** @param force bypass the build memo entirely (no lookup, no
    *   store): a REINDEX must re-run k-means over the corpus as it is
    *   NOW even though the table-scan plan is semantically unchanged,
    *   and its result is about to be dir-swapped so memoizing it would
    *   pin a stale path.
    */
  /** The artifact's own columns: `cell_id` is the partition key every
    * build adds, and `bits` is how a loaded/served artifact is
    * recognized as binary-quantized (HttpApi, IndexedKnn.reindex, the
    * merge guard all discriminate on its presence). A SOURCE table
    * already carrying either would corrupt that discrimination — a
    * plain f32 build over a table with its own `bits` column would be
    * served as "bq" and then fail searchBqRefine's type check — so
    * every build path refuses them up front (the HTTP surface maps
    * this to a 400 at /index time).
    */
  private def requireNoReservedCols(df: DataFrame): Unit =
    Seq("cell_id", "bits", "half").foreach { c =>
      if (df.columns.contains(c))
        throw new IllegalArgumentException(
          s"'$c' is a reserved index-artifact column name; rename the " +
            "source column before building an IVF index over this table")
    }

  private def requireIntegralId(df: DataFrame, idCol: String): Unit =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => ()
      case t => throw new IllegalArgumentException(
        s"IvfIndex requires an integral id column (got " +
          s"${t.simpleString}); map TEXT/UUID ids to a surrogate key " +
          "or use Knn.topK, which supports them directly")
    }

  def build(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxIter: Int = 10, seed: Long = 42L,
      indexDir: Option[String] = None,
      force: Boolean = false): Model = graft.util.BuildTimer.timed {
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    val key = (plan.semanticHash(), idCol, vecCol, nCells, maxIter, seed,
      indexDir)
    val hit = if (force) null else buildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2.assigned.sparkSession eq spark))
      return hit._2
    val cb = ProductQuantizer.fitCodebook(df, idCol, vecCol,
      clusters = nCells, splits = 1, maxIter = maxIter, seed = seed)
    val local = ProductQuantizer.localize(cb)(0)
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, local)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivf_${buildCounter.getAndIncrement()}" +
        s"_c${nCells}_s$seed")
    df.withColumn("cell_id", cellU(col(vecCol)))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    // persist the centroid table next to the inverted file, so the
    // index is a self-contained durable artifact (the reference's
    // saved-index analog): any later session loads it without
    // re-running k-means or touching the source corpus
    graft.util.SidecarIO.writeCentroids(
      spark.sessionState.newHadoopConf(), s"$path/_centroids", local)
    writeMeta(spark, path, idCol, vecCol)
    val model = Model(local, assigned, idCol, vecCol, path)
    if (!force && buildMemo.size < 32) buildMemo.put(key, (plan, model))
    model
  }

  /** Forget every memoized build handle — the long-lived-session
    * hygiene hook, mirroring `Dedup.releaseCaches` and
    * `Autotune.releaseSamples`. Correctness never depends on the
    * memos (a fresh call rebuilds from lineage), and index
    * DIRECTORIES on disk are untouched: only the in-JVM model handles
    * are dropped, so `load(path)` keeps working.
    */
  def releaseModels(): Unit = {
    buildMemo.clear()
    fixedBuildMemo.clear()
    sq8BuildMemo.clear()
  }

  // buildWithCentroids memo: several gate faces share one frozen
  // quantizer over one corpus (the first-16 anchors) — they should
  // share one artifact and one assignment write per JVM, like the
  // k-means path's buildMemo. Keyed on (plan, centroid CONTENT, dir);
  // compact/merge invalidate by dir since they rewrite the files.
  private val fixedBuildMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, Int, String, String, Option[String]),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Model)]()

  private def centroidsHash(cs: Array[Array[Float]]): Int =
    java.util.Arrays.deepHashCode(
      cs.map(_.map(java.lang.Float.floatToIntBits)
        .asInstanceOf[AnyRef]).asInstanceOf[Array[AnyRef]])

  /** Build the inverted file under CALLER-SUPPLIED frozen centroids —
    * no k-means anywhere. Two uses: rebuilding an index under a
    * previously trained coarse quantizer (the production pair of
    * [[append]]), and deterministic-quantizer gate faces where
    * partial-probe search must be restatable by an independent engine
    * (assignment and probing are both plain argmins over the given
    * centroid table).
    *
    * Null vectors: the codegen assignment null-propagates, so a null
    * vector lands with a null cell_id (the default partition
    * directory) and is excluded from every probed search — the same
    * "null never matches" contract as SQL predicates. Filter nulls
    * before indexing if they should fail loudly instead. This applies
    * to every assign path (build/buildWithCentroids/append/ingest).
    */
  def buildWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      indexDir: Option[String] = None): Model = graft.util.BuildTimer.timed {
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    val key = (plan.semanticHash(), centroidsHash(centroids), idCol,
      vecCol, indexDir)
    val hit = fixedBuildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2.assigned.sparkSession eq spark))
      return hit._2
    // codegen argmin assignment (NearestCentroid): no boxed-Seq UDF in
    // the corpus-sized write stage, centroid table rides as a constant
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, centroids)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivffixed_${buildCounter.getAndIncrement()}" +
        s"_c${centroids.length}")
    df.withColumn("cell_id", cellU(col(vecCol)))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    graft.util.SidecarIO.writeCentroids(
      spark.sessionState.newHadoopConf(), s"$path/_centroids", centroids)
    writeMeta(spark, path, idCol, vecCol)
    val model = Model(centroids, assigned, idCol, vecCol, path)
    if (fixedBuildMemo.size < 32) fixedBuildMemo.put(key, (plan, model))
    model
  }

  /** Incrementally add vectors to an EXISTING index: assign each new
    * row to its nearest cell with the (broadcast) frozen centroids and
    * append the rows into the cell partition directories — no k-means,
    * no rebuild, no touch of the resident rows. This is how a 100 TB
    * inverted file absorbs a daily batch: the coarse quantizer is
    * frozen (standard IVF practice — faiss `add` vs `train`), appends
    * are new parquet files inside existing `cell_id=` dirs, and
    * searches over the returned model see old + new rows with the
    * same PartitionFilters pruning. Periodic re-train (a fresh
    * [[build]]) remains the answer to real distribution drift.
    */
  def append(model: Model, df: DataFrame): Model = graft.util.BuildTimer.timed {
    val spark = df.sparkSession
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, model.centroids)
    // a quantized index must absorb batches in ITS representation: a
    // bits-bearing index without the arrivals' bits silently drops
    // them from every BQ shortlist (null hamming → bounded aggregate
    // discards); an f16 index appended with raw floats would drift the
    // parquet schema (half null on arrivals → rows vanish from every
    // probe). Cell assignment always runs on the arrival floats.
    val withKind =
      if (model.assigned.columns.contains("bits"))
        df.withColumn("bits", VectorFunctions.bq_encode(col(model.vecCol)))
      else if (model.assigned.columns.contains("half"))
        df.withColumn("half",
          VectorFunctions.fp16_encode(col(model.vecCol)))
      else df
    val celled = withKind.withColumn("cell_id", cellU(col(model.vecCol)))
    val out =
      if (model.assigned.columns.contains("half"))
        celled.drop(model.vecCol)
      else celled
    out.repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("append")
      .parquet(model.indexPath)
    // fresh scan relation: the old `assigned` caches its file listing;
    // tombstones re-applied (a deleted id stays deleted even if the
    // batch re-appends it — see [[delete]])
    val assigned = minusDeleted(spark, model.indexPath, spark.read
      .option("basePath", model.indexPath)
      .parquet(s"${model.indexPath}/cell_id=*"))
    Model(model.centroids, assigned, model.idCol, model.vecCol,
      model.indexPath)
  }

  case class CompactionStats(cells: Int, filesBefore: Int,
      filesAfter: Int)

  /** Durable record of the index's id (and stored-vector) column name,
    * written by every build path — [[delete]] validates its id column
    * against this instead of trusting "any integral artifact column",
    * which would let an integral payload column drive an anti-join
    * against itself and silently remove the wrong rows.
    */
  private def writeMeta(spark: SparkSession, path: String,
      idCol: String, vecCol: String): Unit =
    graft.util.SidecarIO.writeMeta(spark.sessionState.newHadoopConf(),
      s"$path/_meta", idCol, vecCol)

  /** The id column recorded at build time, if this artifact carries a
    * `_meta` sidecar (indexes built before the sidecar existed don't;
    * [[delete]] falls back to its schema/type checks for those).
    */
  private[graft] def metaIdCol(spark: SparkSession, path: String)
      : Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$path/_meta")
    if (!p.getFileSystem(conf).exists(p)) None
    else graft.util.SidecarIO.readMetaIdCol(conf, s"$path/_meta")
  }

  /** Tombstone-filtered assignment scan: `_deleted` (written by
    * [[delete]]) holds doomed ids; every artifact read path anti-joins
    * them out until [[compact]] purges the rows physically. The
    * tombstone side is broadcast — deletes between compactions are an
    * operational trickle (account deletions, takedowns), never a
    * data-scale set; the filter sits ABOVE the scan and references
    * only the left side, so cell PartitionFilters still push down and
    * unprobed cells stay unread.
    */
  private def minusDeleted(spark: SparkSession, path: String,
      assigned: DataFrame): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_deleted")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) assigned
    else {
      // the sidecar's own column name IS the index id column
      // (validated at [[delete]] time) — the join is self-describing,
      // no registry or parameter needed. Tombstones are bounded, so
      // they come up as a driver-local relation: the anti-join was
      // already broadcast (driver-resident at execution), and the
      // local read removes a per-query sidecar listing + scan.
      val (name, del) = graft.util.SidecarIO.readSingleColLocal(
        spark, s"$path/_deleted", "__deleted_id")
      assigned.join(broadcast(del),
        assigned(name) === col("__deleted_id"), "left_anti")
    }
  }

  /** Delete vectors by id from the durable inverted file — the
    * right-to-be-forgotten maintenance pass the build/append/compact/
    * merge lifecycle otherwise lacks. The ids land in a `_deleted`
    * tombstone sidecar (O(|ids|) write, no cell rewrite); every
    * subsequent [[load]]/[[loadSq8]]/[[append]]/[[merge]] read
    * anti-joins them out, and the next [[compact]] purges the rows
    * physically and clears the sidecar. Contract: a tombstoned id
    * stays invisible even if RE-APPENDED until a compact runs — run
    * compact before re-ingesting a previously-deleted id. The id
    * column's TYPE must match the index's; external PQ-code tables
    * fed to [[searchAdc]] are the caller's to clean.
    *
    * Returns the number of distinct ids recorded. Reference anchor:
    * the reference rebuilds its external index from a fresh table
    * scan to drop rows (external_index.rs full-rebuild path); the
    * tombstone + deferred-purge shape keeps the delete itself O(ids)
    * at 100 TB.
    */
  def delete(spark: SparkSession, indexPath: String,
      ids: DataFrame): Long = {
    require(ids.columns.length == 1,
      s"delete expects a single-id-column frame, got " +
        ids.columns.mkString(","))
    val idName = ids.columns.head
    val artifactSchema = spark.read.option("basePath", indexPath)
      .parquet(s"$indexPath/cell_id=*").schema
    require(artifactSchema.fieldNames.contains(idName),
      s"id column '$idName' is not a column of the index at " +
        s"$indexPath (has ${artifactSchema.fieldNames.mkString(",")})" +
        " — name the frame's column after the index id column")
    // Only the index's id column may drive a tombstone: 'cell_id'
    // would anti-join away whole cells, and a payload/vector column
    // isn't an identity at all. The id column is integral by build
    // contract (requireIntegralId), so enforce that here too.
    require(idName != "cell_id",
      "cannot tombstone by 'cell_id' — deletes are by document id")
    // the build-time _meta record is authoritative when present: only
    // the index's ACTUAL id column may drive a tombstone, not merely
    // any integral artifact column (an integral payload column would
    // anti-join against itself and remove the wrong rows)
    metaIdCol(spark, indexPath).foreach { recorded =>
      require(idName == recorded,
        s"id column '$idName' is not the index's id column " +
          s"('$recorded' per $indexPath/_meta) — deletes are by the " +
          "build-time id column")
    }
    artifactSchema(idName).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => ()
      case other => throw new IllegalArgumentException(
        s"'$idName' has type ${other.simpleString} — the index id " +
          "column is integral; a non-id column cannot drive a delete")
    }
    // The sidecar is self-describing via its single column name; two
    // appends with DIFFERENT names would produce mixed-schema parquet
    // whose merged read nulls out the older files and silently
    // RESURFACES previously tombstoned ids. Reject the second name.
    val sidecarPath = new org.apache.hadoop.fs.Path(
      s"$indexPath/_deleted")
    val sidecarFs = sidecarPath.getFileSystem(
      spark.sessionState.newHadoopConf())
    if (sidecarFs.exists(sidecarPath)) {
      val existing = graft.util.SidecarIO.schemaOf(
        spark.sessionState.newHadoopConf(), s"$indexPath/_deleted")
        .map(_.getFields.get(0).getName)
        .getOrElse(idName)
      require(existing == idName,
        s"the _deleted sidecar at $indexPath already tombstones by " +
          s"'$existing'; a second delete must use the same id column " +
          s"(got '$idName')")
    }
    buildMemo.entrySet.removeIf(e =>
      e.getValue._2.indexPath == indexPath)
    fixedBuildMemo.entrySet.removeIf(e =>
      e.getValue._2.indexPath == indexPath)
    sq8BuildMemo.entrySet.removeIf(e =>
      e.getValue._2._1.indexPath == indexPath)
    val del = ids.distinct()
    val n = del.count()
    del.coalesce(1).write.mode("append")
      .parquet(s"$indexPath/_deleted")
    spark.catalog.refreshByPath(indexPath)
    n
  }

  /** The index's data files, sorted by path: listing order is up to the
    * filesystem, and [[merge]] numbers its staged files by position, so
    * a retried merge must see the same order to overwrite its own files.
    */
  private def listPartFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
    val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.Path]()
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      // data files only: skip _centroids/_sqmodel sidecars and _SUCCESS
      if (f.getPath.toString.contains("cell_id=") &&
          !name.startsWith("_") && !name.startsWith("."))
        out += f.getPath
    }
    out.toSeq.sortBy(_.toString)
  }

  /** Rewrite an index whose cells have accumulated many small files —
    * the inevitable debt of [[append]]/[[appendSq8]], where every daily
    * batch adds one file per touched cell and a year of batches turns
    * each probe into hundreds of file opens. Compaction reads the
    * cell-partitioned parquet and rewrites it with all of a cell's rows
    * in one task, so each cell lands in `targetFilesPerCell` files
    * (default 1); content, schema, and sidecars (`_centroids`,
    * `_sqmodel`) are preserved byte-for-byte, only the file layout
    * changes. At 100 TB this is the maintenance op that keeps probe
    * latency flat as the index absorbs batches: scan cost per probed
    * cell returns to O(bytes) instead of O(bytes + files·open_cost).
    *
    * Crash-safe: the rewrite lands in a `.rebuild` sibling and is
    * published over the live dir with [[graft.util.DirSwap]]'s
    * two-rename swap; [[load]]/[[loadSq8]]/`IndexedKnn` heal an
    * interrupted swap on next open. Reference anchor: the reference's
    * external-index rebuild rewrites the full artifact the same
    * swap-directory way (lantern_extras/src/external_index.rs:109-162);
    * compaction is that rebuild minus the re-train.
    *
    * @param targetFilesPerCell >1 splits each cell across that many
    *   shuffle keys — at real scale one 100 GB cell must not become a
    *   single unsplittable task/file, so large-cell indexes compact to
    *   a small constant per cell instead.
    */
  def compact(spark: SparkSession, indexPath: String,
      targetFilesPerCell: Int = 1): CompactionStats = graft.util.BuildTimer.timed {
    require(targetFilesPerCell >= 1,
      s"targetFilesPerCell must be >= 1 (got $targetFilesPerCell)")
    // memoized Models for this path cache a file listing the rewrite
    // is about to delete — drop them so the next build/load re-lists
    buildMemo.entrySet.removeIf(e => e.getValue._2.indexPath == indexPath)
    fixedBuildMemo.entrySet.removeIf(
      e => e.getValue._2.indexPath == indexPath)
    sq8BuildMemo.entrySet.removeIf(
      e => e.getValue._2._1.indexPath == indexPath)
    val live = new org.apache.hadoop.fs.Path(indexPath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    graft.util.DirSwap.recover(fs, live)
    graft.util.DirSwap.clearSiblings(fs, live)
    val before = listPartFiles(fs, live)
    // tombstoned rows ([[delete]]) are purged physically here: the
    // rewrite drops them and the _deleted sidecar is NOT copied into
    // the fresh artifact (only _centroids/_sqmodel travel below)
    val assigned = minusDeleted(spark, indexPath, spark.read
      .option("basePath", indexPath)
      .parquet(s"$indexPath/cell_id=*"))
    val fresh = graft.util.DirSwap.rebuildPath(indexPath)
    val keys: Seq[org.apache.spark.sql.Column] =
      if (targetFilesPerCell == 1) Seq(col("cell_id"))
      else {
        // salt splits a huge cell across tasks; each task writes one
        // file per cell dir it holds, so files/cell <= target
        val idCol = assigned.columns.find(_ != "cell_id").get
        Seq(col("cell_id"),
          pmod(hash(col(idCol)), lit(targetFilesPerCell)))
      }
    assigned.repartition(keys: _*)
      .write.partitionBy("cell_id").mode("overwrite").parquet(fresh)
    // sidecars travel with the artifact
    for (side <- Seq("_centroids", "_sqmodel", "_meta")) {
      val src = new org.apache.hadoop.fs.Path(s"$indexPath/$side")
      if (fs.exists(src))
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
          new org.apache.hadoop.fs.Path(s"$fresh/$side"),
          false, spark.sessionState.newHadoopConf())
    }
    graft.util.DirSwap.publish(fs, live)
    val after = listPartFiles(fs, live)
    val cells = after.map(_.getParent.getName).distinct.size
    CompactionStats(cells, before.size, after.size)
  }

  /** Merge the inverted file at `srcPath` into the one at `destPath`.
    * Both must carry the SAME frozen coarse quantizer (the precondition
    * that makes the merge a pure data move: every src row is already in
    * its correct cell, so no assignment recomputes — cf. faiss
    * `merge_into` for on-disk IVF). This is how a 100 TB index is
    * actually built: shards indexed IN PARALLEL with
    * [[buildWithCentroids]] under one shared quantizer, then folded
    * together; sequential [[append]] of raw vectors would serialize the
    * assignment pass. Src rows land as new files inside dest's
    * `cell_id=` dirs (append semantics, like [[append]]); run
    * [[compact]] afterwards to fold the file count back down. The src
    * artifact is not modified.
    */
  def merge(spark: SparkSession, destPath: String, srcPath: String,
      idCol: String, vecCol: String): Model = graft.util.BuildTimer.timed {
    // both artifacts' build-time id records must match the caller's
    // (checked before load, which would fail less legibly): appending
    // src rows under a different id column would union parquet schemas
    // and null the id on one side of every later scan
    for (p <- Seq(destPath, srcPath); rec <- metaIdCol(spark, p))
      require(rec == idCol,
        s"cannot merge: the index at $p was built with id column " +
          s"'$rec' (per _meta), not '$idCol'")
    val dest = load(spark, destPath, idCol, vecCol)
    val src = load(spark, srcPath, idCol, vecCol)
    require(dest.centroids.length == src.centroids.length &&
      dest.centroids.zip(src.centroids).forall {
        case (a, b) => java.util.Arrays.equals(a, b)
      },
      s"cannot merge: $srcPath and $destPath were built under " +
        "different coarse quantizers — rebuild one with the other's " +
        "centroids (buildWithCentroids) first")
    require(dest.assigned.columns.contains("bits") ==
      src.assigned.columns.contains("bits"),
      s"cannot merge: exactly one of $srcPath / $destPath carries a " +
        "BQ bits column — a mixed artifact would drop the bit-less " +
        "rows from every BQ shortlist; rebuild the shards uniformly")
    require(dest.assigned.columns.contains("half") ==
      src.assigned.columns.contains("half"),
      s"cannot merge: exactly one of $srcPath / $destPath stores f16 " +
        "halves — a mixed artifact would null one side's payload on " +
        "every probe; rebuild the shards uniformly")
    require(dest.assigned.columns.contains("sq") ==
      src.assigned.columns.contains("sq"),
      s"cannot merge: exactly one of $srcPath / $destPath stores SQ8 " +
        "codes — a mixed artifact would null one side's codes on " +
        "every probe; rebuild the shards uniformly")
    buildMemo.entrySet.removeIf(e => e.getValue._2.indexPath == destPath)
    fixedBuildMemo.entrySet.removeIf(
      e => e.getValue._2.indexPath == destPath)
    val conf = spark.sessionState.newHadoopConf()
    val destRoot = new org.apache.hadoop.fs.Path(destPath)
    val fs = destRoot.getFileSystem(conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$srcPath/_deleted"))) {
      // Pure data move, literally: both artifacts share the quantizer,
      // so every src part file already sits in its correct cell dir and
      // (no src tombstones) every row in it is live. Copy the files
      // into dest's cell dirs instead of re-reading, re-shuffling and
      // re-encoding the whole shard through a Spark job — the merge
      // cost becomes O(#files) I/O with zero compute, which is the
      // faiss `merge_into` shape the scaladoc promises. Files land
      // under dot-prefixed names (invisible to parquet listings) and
      // flip visible in a final rename pass, so a crash mid-copy
      // leaves the dest artifact's visible file set exactly as it was.
      //
      // Retry safety: the tag is derived DETERMINISTICALLY from the
      // src path, so re-running a crashed (or repeated) merge of the
      // same src overwrites its own staged/visible names instead of
      // duplicating the already-renamed rows under a fresh random tag.
      // Each rename's boolean result is checked — on filesystems with
      // object-store rename semantics a false return would otherwise
      // leave a hidden .merge-*.tmp silently absent from every scan.
      val srcRoot = new org.apache.hadoop.fs.Path(srcPath)
      val fsrc = srcRoot.getFileSystem(conf)
      val tag =
        f"${scala.util.hashing.MurmurHash3.stringHash(srcPath)}%08x" +
          f"${scala.util.hashing.MurmurHash3.stringHash(srcPath.reverse)}%08x"
      val staged = listPartFiles(fsrc, srcRoot).zipWithIndex.map {
        case (f, i) =>
          val cellDir = new org.apache.hadoop.fs.Path(
            destPath, f.getParent.getName)
          if (!fs.exists(cellDir)) fs.mkdirs(cellDir)
          val hidden = new org.apache.hadoop.fs.Path(
            cellDir, s".merge-$tag-$i.parquet.tmp")
          org.apache.hadoop.fs.FileUtil.copy(fsrc, f, fs, hidden,
            false, true, conf)
          (hidden, new org.apache.hadoop.fs.Path(
            cellDir, s"part-merge-$tag-$i.parquet"))
      }
      staged.foreach { case (h, v) =>
        if (fs.exists(v)) fs.delete(v, false) // rerun of a crashed merge
        require(fs.rename(h, v),
          s"merge: rename $h -> $v failed; the staged file would be " +
            "invisible to scans and its rows silently missing")
      }
    } else {
      // src carries tombstones: the doomed rows must not travel, so
      // this (operationally rare) shape pays the filtered rewrite
      src.assigned
        .repartition(col("cell_id"))
        .write.partitionBy("cell_id").mode("append").parquet(destPath)
    }
    // src rows arrive already tombstone-filtered (src was load()ed);
    // dest's own tombstones re-apply on the fresh scan
    val assigned = minusDeleted(spark, destPath, spark.read
      .option("basePath", destPath)
      .parquet(s"$destPath/cell_id=*"))
    Model(dest.centroids, assigned, idCol, vecCol, destPath)
  }

  /** Operational stats of an inverted file: per-cell row count, share
    * of the corpus, and on-disk file count — the numbers that drive
    * the two maintenance decisions. A cell with many files wants
    * [[compact]]; a lopsided row distribution (hot cells soak up
    * appends the frozen quantizer routes badly) wants a retrain +
    * reindex. One partial-aggregated groupBy over the cell-partitioned
    * scan plus a driver-side file listing bounded by nCells — no data
    * shuffled beyond (cell_id, count) partials.
    */
  def cellStats(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    val live = new org.apache.hadoop.fs.Path(model.indexPath)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val files = listPartFiles(fs, live)
      .groupBy(f => f.getParent.getName.stripPrefix("cell_id=").toInt)
      .view.mapValues(_.size).toSeq
      .toDF("cell_id", "n_files")
    val counts = model.assigned.groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_rows"))
    val total = sum(col("n_rows")).over(
      org.apache.spark.sql.expressions.Window.partitionBy())
    counts
      .withColumn("pct", round(col("n_rows") / total, 4))
      .join(broadcast(files), Seq("cell_id"), "left")
      .na.fill(0, Seq("n_files"))
      .orderBy(col("cell_id"))
  }

  /** Reopen a durable index written by [[build]]: centroids from the
    * sidecar table, assignment straight off the cell-partitioned
    * parquet. No k-means, no corpus scan — the load cost is two
    * metadata reads, which is what makes the index an artifact rather
    * than a cache. Heals an interrupted compaction/reindex swap first,
    * so an index is openable after a crash at any point of either.
    */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String): Model = graft.util.BuildTimer.timed {
    locally {
      val p = new org.apache.hadoop.fs.Path(path)
      graft.util.DirSwap.recover(
        p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val cents = graft.util.SidecarIO.readCentroids(
      spark.sessionState.newHadoopConf(), s"$path/_centroids")
    require(cents.nonEmpty, s"no centroid sidecar under $path")
    // _centroids sits inside the index dir; exclude it from the
    // assignment read by listing only cell_id partition dirs
    val assigned = minusDeleted(spark, path, spark.read
      .option("basePath", path)
      .parquet(s"$path/cell_id=*"))
    Model(cents, assigned, idCol, vecCol, path)
  }

  /** Restrict a cell-partitioned corpus to the cells a probe plan
    * touches. The cell list is bounded by nCells (a model PARAMETER,
    * not a data-scale quantity), so an IN filter over it is safe at any
    * corpus size; it reaches the scan as a PartitionFilter.
    */
  private def pruneToProbedCells(corpus: DataFrame,
      cells: Seq[Int]): DataFrame =
    corpus.where(col("cell_id").isin(cells.map(Int.box): _*))

  /** One query batch's probe plan: the probe rows (qid, qvec, cell_id)
    * as a driver-local relation, and the sorted distinct cells they
    * touch.
    */
  private case class ProbePlan(rows: DataFrame, cells: Seq[Int])

  /** Plan the probes on the driver: each query's nprobe nearest
    * centroids, ranked by the double sum of squared float differences
    * and tie-broken by the lower cell index.
    *
    * Jobs: the query rows are collected once. A local query batch (a
    * `LocalRelation`, e.g. `Seq(...).toDF` or one HTTP request) collects
    * without a Spark job; any other batch costs that one collect. The
    * returned relation is local too, so building a search plan launches
    * nothing else.
    *
    * Memory bound: the driver holds |queries| x nprobe probe rows, each
    * carrying its query vector — the same table the candidate join's
    * broadcast already materializes on the driver, so planning here
    * adds no new bound.
    */
  private def probeCells(model: Model, queries: DataFrame,
      nprobe: Int): ProbePlan = {
    val q = queries.select(col(model.idCol).cast("long").as("qid"),
      col(model.vecCol).as("qvec"),
      col(model.vecCol).cast("array<float>").as("qf"))
    val dim = model.centroids.head.length
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    val cells = scala.collection.mutable.SortedSet[Int]()
    q.collect().foreach { r =>
      val qid = r.get(0)
      if (r.isNullAt(2) || r.getSeq[Any](2).contains(null))
        throw new IllegalArgumentException(
          s"query qid=$qid has a null '${model.vecCol}' vector or a null " +
            "element in it; IVF search needs a complete query vector")
      val qf = r.getSeq[Float](2).toArray
      if (qf.length != dim)
        throw new IllegalArgumentException(
          s"query qid=$qid has dimension ${qf.length}, the index " +
            s"centroids have $dim")
      nearestCells(model.centroids, qf, nprobe).foreach { c =>
        rows.add(org.apache.spark.sql.Row(qid, r.get(1), c))
        cells += c
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      q.schema.fields.take(2) :+ org.apache.spark.sql.types.StructField(
        "cell_id", org.apache.spark.sql.types.IntegerType, nullable = false))
    ProbePlan(queries.sparkSession.createDataFrame(rows, schema),
      cells.toSeq)
  }

  /** The nprobe nearest cells of one query vector, nearest first; ties
    * in distance go to the lower cell index.
    */
  private def nearestCells(centroids: Array[Array[Float]],
      q: Array[Float], nprobe: Int): Array[Int] =
    centroids.zipWithIndex
      .map { case (c, i) =>
        var acc = 0.0; var d = 0
        while (d < q.length) {
          val x = q(d).toDouble - c(d); acc += x * x; d += 1
        }
        (acc, i)
      }
      .sortBy(identity).take(nprobe).map(_._2)

  /** ANN top-k: probe nprobe cells, exact distances within candidates,
    * bounded top-k aggregation. Same output shape as `Knn.topK`.
    *
    * @param filter optional metadata predicate over the index's
    *   columns (the vector-db staple "WHERE label = 3 ORDER BY
    *   embedding <-> q"): applied to the probed-cell scan, so it
    *   rides down to parquet as a data filter NEXT TO the cell
    *   PartitionFilter — pruned cells stay unread AND non-matching
    *   rows never reach the distance loop.
    */
  def search(model: Model, queries: DataFrame, k: Int, nprobe: Int,
      metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    // probes are |queries| x nprobe rows, planned on the driver
    val plan = probeCells(model, queries, nprobe)
    val probes = broadcast(plan.rows)
    // cell_id IN (probed) reaches the scan as a PartitionFilter on the
    // cell-partitioned index — unprobed cells are never read
    val corpus = filter.foldLeft(
        pruneToProbedCells(model.assigned, plan.cells))(_.where(_))
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"),
        col(model.vecCol).as("cvec"))
    val scored = corpus.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cvec"), col("qvec")).as("dist"))
    scored.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }

  /** Vector RANGE query: every neighbor within `radius`, not a fixed
    * top-k — the reference's `WHERE embedding <-> q < r` shape
    * (pgvector/lantern distance-threshold scans). Same probe pruning
    * as [[search]]: unprobed cells are never read; with
    * nprobe = nCells the result is exact (and brute-force restatable).
    * Unlike top-k there is no per-query result bound, so the output is
    * a plain filtered join — no top-k aggregation state at all, the
    * cheapest possible shape. Rows come back ranked within each query
    * for presentation parity with [[search]].
    */
  def rangeSearch(model: Model, queries: DataFrame, radius: Double,
      nprobe: Int, metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("dist"), col("nid"))
    rangeCandidates(model, queries, radius, nprobe, metric, filter)
      .withColumn("rank", row_number().over(w))
  }

  /** [[rangeSearch]] without the presentation rank — the (qid, nid,
    * dist) match SET, which is all a planner rewrite or a downstream
    * join needs; no window at all.
    */
  def rangeCandidates(model: Model, queries: DataFrame, radius: Double,
      nprobe: Int, metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(radius > 0, s"radius must be positive (got $radius)")
    val plan = probeCells(model, queries, nprobe)
    val probes = broadcast(plan.rows)
    val corpus = filter.foldLeft(
        pruneToProbedCells(model.assigned, plan.cells))(_.where(_))
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"),
        col(model.vecCol).as("cvec"))
    corpus.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cvec"), col("qvec")).as("dist"))
      .where(col("dist") <= radius)
  }

  /** IVF-PQ: score candidates by asymmetric distance (ADC) over PQ
    * codes. Per query, a lookup table LUT[split][code] =
    * l2sq(query_subvector, centroid) is built from the (broadcast)
    * codebook; candidate distance is a table-sum over its u8 codes —
    * no float vectors move through the probe join.
    *
    * @param quantized corpus with `pqCol` ARRAY<TINYINT> (from
    *   `ProductQuantizer.quantizeColumn`) and cell assignments
    *   (`build` the model over the SAME vectors first).
    * @param lutScale when set, each LUT entry is the sum of PER-DIM
    *   squared differences quantized to integer units of 1/lutScale
    *   (floor(d²·scale + 0.5)) — the integer-accumulation ADC variant
    *   (cf. faiss/SCANN int LUTs). Distances become exact integer
    *   sums, order-independent across engines and partitionings, so
    *   the face is restatable by any SQL engine bit-for-bit.
    */
  def searchAdc(model: Model, quantized: DataFrame, pqCol: String,
      codebook: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int, lutScale: Option[Double] = None): DataFrame =
    adcTopK(model, quantized, pqCol, codebook,
      probeCells(model, queries, nprobe), k, lutScale)

  /** [[searchAdc]] over an already planned probe set, so the refine
    * path plans its probes once for both stages.
    */
  private def adcTopK(model: Model, quantized: DataFrame, pqCol: String,
      codebook: DataFrame, plan: ProbePlan, k: Int,
      lutScale: Option[Double]): DataFrame = {
    val spark = plan.rows.sparkSession
    val cb = ProductQuantizer.localize(codebook)
    val cbBc = spark.sparkContext.broadcast(cb)
    val subdims = cb.map(_.head.length)
    val starts = subdims.scanLeft(0)(_ + _)
    val lutU = udf((q: Seq[Float]) => {
      val qa = q.toArray
      val book = cbBc.value
      book.indices.map { s =>
        val lo = starts(s)
        book(s).map { c =>
          var acc = 0.0; var d = 0
          lutScale match {
            case Some(u) =>
              while (d < c.length) {
                val x = qa(lo + d).toDouble - c(d)
                acc += math.floor(x * x * u + 0.5); d += 1
              }
            case None =>
              while (d < c.length) {
                val x = qa(lo + d).toDouble - c(d); acc += x * x; d += 1
              }
          }
          acc
        }.toSeq
      }.toSeq
    })
    val probes = broadcast(plan.rows
      .withColumn("lut", lutU(col("qvec")))
      .drop("qvec"))
    // same storage-level pruning as `search`: quantized is a projection
    // over the cell-partitioned index, so the IN filter still pushes
    // down to the scan as a PartitionFilter
    val corpus = pruneToProbedCells(quantized, plan.cells)
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"), col(pqCol).as("codes"))
    // codegen ADC table-sum (PqAdcScore): this runs once per
    // (probed-cell row x query) — nprobe/nCells x corpus rows, a
    // corpus-fraction-scale path where the former interpreted UDF
    // boxed a Seq[Seq[Double]] LUT and a Seq[Byte] code row per call
    // and kept the whole shortlist stage out of whole-stage codegen
    val scored = corpus.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        graft.functions.VectorFunctions.col(graft.functions.PqAdcScore(
          graft.functions.VectorFunctions.expr(col("lut")),
          graft.functions.VectorFunctions.expr(col("codes")))).as("dist"))
    scored.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }

  /** Two-stage IVF-PQ search — ADC shortlist + exact re-rank (Jégou,
    * Douze, Schmid, "Searching in one billion vectors: re-rank with
    * source coding", ICASSP 2011; faiss `IndexRefineFlat`). Stage 1
    * runs [[searchAdc]] to a `shortlist`-deep candidate pool per query
    * (codes only — no float vectors move through the probe join);
    * stage 2 re-ranks ONLY that pool with exact distances over the
    * original vectors and returns the top `k`.
    *
    * Scale shape: the float read of stage 2 touches |queries|·shortlist
    * rows instead of every row of every probed cell — the candidate
    * (qid, nid) pool and the query vectors broadcast into the corpus
    * scan, so the big side never shuffles. This is the standard answer
    * to "PQ distortion flips neighbors at the top": ADC recall@shortlist
    * is high even when ADC rank@k is wrong, and the exact pass restores
    * the true order at negligible cost.
    *
    * Reference anchor: the reference's external index pairs its
    * compressed scan with full-precision re-ranking the same way
    * (lantern_extras/src/external_index/server.rs scan + re-rank).
    */
  def searchAdcRefine(model: Model, quantized: DataFrame, pqCol: String,
      codebook: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      shortlist: Int, metric: String = "l2sq",
      lutScale: Option[Double] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val plan = probeCells(model, queries, nprobe)
    val pool = adcTopK(model, quantized, pqCol, codebook, plan,
        shortlist, lutScale)
      .select(col("qid"), col("nid"))
    val qv = queries.select(
      col(model.idCol).cast("long").as("qid"), col(model.vecCol).as("qvec"))
    // every shortlisted id lives in a probed cell, so the exact-rescore
    // float read can carry the same cell PartitionFilter as stage 1 —
    // without it the rescore would scan the float column of EVERY cell
    // and undo the nprobe/nCells read reduction the shortlist pass earns
    val cv = pruneToProbedCells(model.assigned, plan.cells)
      .select(
        col(model.idCol).cast("long").as("nid"), col(model.vecCol).as("cvec"))
    val exact = cv.join(broadcast(pool), "nid")
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cvec"), col("qvec")).as("dist"))
    exact.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }

  /** [[buildWithCentroids]] variant that ALSO stores the packed sign
    * bits ([[graft.functions.BqEncode]]) of every vector alongside the
    * floats — the B1 quantization kind of the reference's index server
    * (`external_index/server.rs:93-99`) as an inverted-file column.
    * The artifact keeps both representations so a two-stage search
    * ([[searchBqRefine]]) reads ONLY (id, bits) in its shortlist pass
    * — parquet column pruning skips the float column's pages, a
    * dim·32/64 ≈ 32× byte reduction on the probed-cell scan — and
    * fetches floats solely for the per-query shortlist. Storage cost
    * of carrying bits next to floats is dim/64 longs per row ≈ 3% for
    * float vectors.
    */
  def buildBqWithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      indexDir: Option[String] = None,
      force: Boolean = false): Model = graft.util.BuildTimer.timed {
    // same guard as build(): a TEXT/UUID id would otherwise build fine
    // and then cast to null in every search — silent empty results
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    // shares fixedBuildMemo with buildWithCentroids; the complemented
    // centroid hash keeps a bits-bearing artifact from ever being
    // served where a plain one was requested (and vice versa)
    val key = (plan.semanticHash(), ~centroidsHash(centroids), idCol,
      vecCol, indexDir)
    val hit = if (force) null else fixedBuildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2.assigned.sparkSession eq spark))
      return hit._2
    // codegen argmin assignment (NearestCentroid): no boxed-Seq UDF in
    // the corpus-sized write stage, centroid table rides as a constant
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, centroids)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivfbq_${buildCounter.getAndIncrement()}" +
        s"_c${centroids.length}")
    df.withColumn("cell_id", cellU(col(vecCol)))
      .withColumn("bits", VectorFunctions.bq_encode(col(vecCol)))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    graft.util.SidecarIO.writeCentroids(
      spark.sessionState.newHadoopConf(), s"$path/_centroids", centroids)
    writeMeta(spark, path, idCol, vecCol)
    val model = Model(centroids, assigned, idCol, vecCol, path)
    if (!force && fixedBuildMemo.size < 32)
      fixedBuildMemo.put(key, (plan, model))
    model
  }

  /** [[build]] (k-means coarse quantizer) + the bits-bearing artifact
    * of [[buildBqWithCentroids]] in one call — the entry point the
    * HTTP surface uses when an index is created with
    * `"quantization":"bq"`. The k-means runs on the floats exactly as
    * in [[build]]; only the stored payload gains the packed-bits
    * column. `force` has [[build]]'s reindex semantics: no memo
    * lookup, no memo store — a rebuild into a swap dir must really
    * write.
    */
  def buildBq(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxIter: Int = 10, seed: Long = 42L,
      indexDir: Option[String] = None, force: Boolean = false): Model = {
    val cb = ProductQuantizer.fitCodebook(df, idCol, vecCol,
      clusters = nCells, splits = 1, maxIter = maxIter, seed = seed)
    buildBqWithCentroids(df, idCol, vecCol,
      ProductQuantizer.localize(cb)(0), indexDir, force)
  }

  /** [[buildWithCentroids]] variant whose inverted file stores the
    * vectors as IEEE binary16 ([[graft.functions.Fp16Encode]]) INSTEAD
    * of floats — the F16 scalar-quantization kind of the reference's
    * index server (`external_index/server.rs:93-99`), completing the
    * kind set next to F32 (build), I8 (buildSq8) and B1 (buildBq).
    * Unlike SQ8/PQ it needs no trained model and no sidecar: every
    * probed-cell scan moves HALF the bytes of the float artifact at
    * ~2^-11 relative rounding error, which is why f16 is the default
    * storage kind for serving-scale ANN systems. Cell assignment runs
    * on the ORIGINAL floats (full-precision quantizer), only the
    * stored payload is halved.
    */
  def buildF16WithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      indexDir: Option[String] = None,
      force: Boolean = false): Model = graft.util.BuildTimer.timed {
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    // shares fixedBuildMemo; a distinct centroid-hash tweak keeps an
    // f16 artifact from ever being served where a float/bq one was
    // requested (the bq variant uses ~hash; f16 rotates by 1)
    val key = (plan.semanticHash(),
      Integer.rotateLeft(centroidsHash(centroids), 1), idCol, vecCol,
      indexDir)
    val hit = if (force) null else fixedBuildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2.assigned.sparkSession eq spark))
      return hit._2
    // codegen argmin assignment (NearestCentroid): no boxed-Seq UDF in
    // the corpus-sized write stage, centroid table rides as a constant
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, centroids)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivff16_${buildCounter.getAndIncrement()}" +
        s"_c${centroids.length}")
    df.withColumn("cell_id", cellU(col(vecCol)))
      .withColumn("half", VectorFunctions.fp16_encode(col(vecCol)))
      .drop(vecCol)
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    graft.util.SidecarIO.writeCentroids(
      spark.sessionState.newHadoopConf(), s"$path/_centroids", centroids)
    writeMeta(spark, path, idCol, "half")
    val model = Model(centroids, assigned, idCol, vecCol, path)
    if (!force && fixedBuildMemo.size < 32)
      fixedBuildMemo.put(key, (plan, model))
    model
  }

  /** [[build]]'s k-means + the half-precision artifact of
    * [[buildF16WithCentroids]] — the entry point the HTTP surface uses
    * for `"quantization":"f16"`.
    */
  def buildF16(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxIter: Int = 10, seed: Long = 42L,
      indexDir: Option[String] = None, force: Boolean = false): Model = {
    val cb = ProductQuantizer.fitCodebook(df, idCol, vecCol,
      clusters = nCells, splits = 1, maxIter = maxIter, seed = seed)
    buildF16WithCentroids(df, idCol, vecCol,
      ProductQuantizer.localize(cb)(0), indexDir, force)
  }

  /** ANN top-k over an F16 inverted file: probe cells as in [[search]],
    * score candidates by the SYMMETRIC half-precision distance — both
    * the stored vector and the query are rounded through binary16
    * before the exact double fold — and take the per-query top k.
    * Symmetry makes the result independently restatable (the
    * q_ivf_f16_fixed oracle re-derives the same grid in exact
    * arithmetic) and means a full probe reproduces q_f16_knn exactly.
    * Single-stage by design: at ~1e-3 relative error f16 ranking
    * rarely diverges from f32, so unlike BQ/PQ there is no
    * shortlist+refine stage to pay for — the reference's f16 index
    * kind re-ranks nothing either.
    */
  def searchF16(model: Model, queries: DataFrame, k: Int, nprobe: Int,
      metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(model.assigned.columns.contains("half"),
      s"index at ${model.indexPath} carries no 'half' column — build " +
        "it with buildF16WithCentroids")
    val plan = probeCells(model, queries, nprobe)
    val probes = broadcast(plan.rows
      .withColumn("qdec", VectorFunctions.fp16_decode(
        VectorFunctions.fp16_encode(col("qvec"))))
      .drop("qvec"))
    val corpus = filter.foldLeft(
        pruneToProbedCells(model.assigned, plan.cells))(_.where(_))
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"),
        VectorFunctions.fp16_decode(col("half")).as("cdec"))
    val scored = corpus.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cdec"), col("qdec")).as("dist"))
    scored.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }

  /** Two-stage binary-quantized IVF search: probe cells as in
    * [[search]], shortlist per query by hamming distance over the
    * STORED sign bits (XOR+POPCNT, map-side-bounded — the probed-cell
    * scan reads the bits column only), then re-rank the shortlist with
    * exact distances over the floats. The BQ sibling of
    * [[searchAdcRefine]]: same refine contract, but the compressed
    * representation is 1 bit/dim instead of PQ codes, needs no trained
    * codebook, and the compressed metric is restatable by any SQL
    * engine as a sign-disagreement count (how the q_ivf_bq_fixed
    * oracle checks it hash-exactly).
    */
  /** @param filter optional metadata predicate over the index's
    *   columns, applied INSIDE the shortlist scan (next to the cell
    *   PartitionFilter, like [[search]]): candidates that fail it
    *   never occupy shortlist slots, so a selective filter cannot
    *   starve the rescore pool. The rescore needs no second
    *   application — every shortlisted id already passed.
    */
  def searchBqRefine(model: Model, queries: DataFrame, k: Int,
      nprobe: Int, shortlist: Int, metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    require(model.assigned.columns.contains("bits"),
      s"index at ${model.indexPath} carries no 'bits' column — build " +
        "it with buildBqWithCentroids")
    val plan = probeCells(model, queries, nprobe)
    val probes = broadcast(plan.rows
      .withColumn("qbits", VectorFunctions.bq_encode(col("qvec")))
      .drop("qvec"))
    // bits-only projection: the float vector column must NOT appear in
    // this scan's ReadSchema (asserted in IvfSpec); a metadata filter
    // adds its own column to the scan but still never the floats
    val bitsScan = filter.foldLeft(
        pruneToProbedCells(model.assigned, plan.cells))(_.where(_))
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"), col("bits"))
    val pool = bitsScan.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        VectorFunctions.bq_hamming(col("bits"), col("qbits"))
          .cast("double").as("hd"))
      .groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("hd"), col("nid"), shortlist).as("sl"))
      .select(col("qid"), explode(col("sl")).as("e"))
      .select(col("qid"), col("e.id").as("nid"))
    val qv = queries.select(
      col(model.idCol).cast("long").as("qid"), col(model.vecCol).as("qvec"))
    // shortlisted ids can only come from probed cells, so the float
    // fetch-back is pruned by the SAME probe set as the bits scan —
    // this is what makes "floats solely for the shortlist" literal:
    // unprobed cells contribute neither bits pages nor float pages
    val cv = pruneToProbedCells(model.assigned, plan.cells).select(
      col(model.idCol).cast("long").as("nid"), col(model.vecCol).as("cvec"))
    val exact = cv.join(broadcast(pool), "nid")
      .join(broadcast(qv), "qid")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cvec"), col("qvec")).as("dist"))
    exact.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }

  private val sq8BuildMemo = new java.util.concurrent.ConcurrentHashMap[
    (Int, String, String, Int, Int, Long, Option[String]),
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      (Model, Array[Double], Array[Double]))]()

  /** IVF over SQ8-COMPRESSED cells: the inverted file stores int8
    * codes instead of float vectors, so a probe reads ~4x fewer bytes
    * from each probed cell on top of skipping unprobed cells entirely
    * — the composed I/O story for a 100 TB embedding corpus. Cell
    * assignment (k-means on the ORIGINAL floats, full-precision
    * centroids) is unchanged; only the stored payload is quantized.
    * Returns the model plus the per-dimension (min, max) scalar model
    * (bounded by dim; persisted as a `_sqmodel` sidecar so `loadSq8`
    * reopens the artifact without the source corpus).
    */
  def buildSq8(df: DataFrame, idCol: String, vecCol: String, nCells: Int,
      maxIter: Int = 10, seed: Long = 42L,
      indexDir: Option[String] = None)
      : (Model, Array[Double], Array[Double]) = graft.util.BuildTimer.timed {
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    val key = (plan.semanticHash(), idCol, vecCol, nCells, maxIter, seed,
      indexDir)
    val hit = sq8BuildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2._1.assigned.sparkSession eq spark))
      return hit._2
    val sqModel = ScalarQuantizer.fit(df, vecCol)
    val rows = sqModel.collect().sortBy(_.getInt(0))
    val mn = rows.map(_.getDouble(1)); val mx = rows.map(_.getDouble(2))
    // float model: same coarse quantizer as the uncompressed index
    val cb = ProductQuantizer.fitCodebook(df, idCol, vecCol,
      clusters = nCells, splits = 1, maxIter = maxIter, seed = seed)
    val local = ProductQuantizer.localize(cb)(0)
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, local)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivfsq_${buildCounter.getAndIncrement()}" +
        s"_c${nCells}_s$seed")
    import spark.implicits._
    ScalarQuantizer.quantize(df, vecCol, "sq",
        spark.createDataset(rows.toSeq.map(r =>
          (r.getInt(0), r.getDouble(1), r.getDouble(2))))
          .toDF("pos", "mn", "mx"))
      .withColumn("cell_id", cellU(col(vecCol)))
      .select(col(idCol), col("sq"), col("cell_id"))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    locally {
      val conf = spark.sessionState.newHadoopConf()
      graft.util.SidecarIO.writeCentroids(conf, s"$path/_centroids",
        local)
      graft.util.SidecarIO.writeSqModel(conf, s"$path/_sqmodel", mn, mx)
    }
    writeMeta(spark, path, idCol, "sq")
    val result = (Model(local, assigned, idCol, "sq", path), mn, mx)
    if (sq8BuildMemo.size < 32) sq8BuildMemo.put(key, (plan, result))
    result
  }

  /** [[buildSq8]] under CALLER-SUPPLIED frozen coarse centroids — no
    * k-means. The scalar (min, max) model still fits on the given
    * corpus (it is data-derived, not a tuning choice). Completes the
    * fixed-quantizer build set across all stored kinds
    * (buildWithCentroids / buildF16WithCentroids / buildBqWithCentroids
    * / this), which is what lets the q_quant_kinds face hash-check a
    * recall comparison of every kind under one deterministic quantizer
    * — and is the production rebuild path of [[appendSq8]].
    */
  def buildSq8WithCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Float]],
      indexDir: Option[String] = None)
      : (Model, Array[Double], Array[Double]) = graft.util.BuildTimer.timed {
    requireIntegralId(df, idCol)
    requireNoReservedCols(df)
    val spark = df.sparkSession
    val plan = df.queryExecution.optimizedPlan
    val key = (plan.semanticHash(), idCol, vecCol,
      centroidsHash(centroids), -1, 0L, indexDir)
    val hit = sq8BuildMemo.get(key)
    if (hit != null && hit._1.sameResult(plan) &&
        (hit._2._1.assigned.sparkSession eq spark))
      return hit._2
    val sqModel = ScalarQuantizer.fit(df, vecCol)
    val rows = sqModel.collect().sortBy(_.getInt(0))
    val mn = rows.map(_.getDouble(1)); val mx = rows.map(_.getDouble(2))
    // codegen argmin assignment (NearestCentroid): no boxed-Seq UDF in
    // the corpus-sized write stage, centroid table rides as a constant
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, centroids)
    val path = indexDir.getOrElse(
      s"$tmpBase/ivfsqf_${buildCounter.getAndIncrement()}" +
        s"_c${centroids.length}")
    import spark.implicits._
    ScalarQuantizer.quantize(df, vecCol, "sq",
        spark.createDataset(rows.toSeq.map(r =>
          (r.getInt(0), r.getDouble(1), r.getDouble(2))))
          .toDF("pos", "mn", "mx"))
      .withColumn("cell_id", cellU(col(vecCol)))
      .select(col(idCol), col("sq"), col("cell_id"))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("overwrite").parquet(path)
    val assigned = spark.read.parquet(path)
    locally {
      val conf = spark.sessionState.newHadoopConf()
      graft.util.SidecarIO.writeCentroids(conf, s"$path/_centroids",
        centroids)
      graft.util.SidecarIO.writeSqModel(conf, s"$path/_sqmodel", mn, mx)
    }
    writeMeta(spark, path, idCol, "sq")
    val result = (Model(centroids, assigned, idCol, "sq", path), mn, mx)
    if (sq8BuildMemo.size < 32) sq8BuildMemo.put(key, (plan, result))
    result
  }

  /** [[append]] for the SQ8 index: arriving vectors are quantized with
    * the index's FROZEN per-dimension scalar model (out-of-range
    * values saturate — the Sq8Encode clamp) and routed into cells by
    * the frozen coarse centroids, then appended as new files inside
    * the existing `cell_id=` dirs. Neither quantizer retrains; like
    * the float twin, periodic re-fit/rebuild answers real drift.
    */
  def appendSq8(model: Model, mins: Array[Double], maxs: Array[Double],
      df: DataFrame, idCol: String, vecCol: String): Model = graft.util.BuildTimer.timed {
    val spark = df.sparkSession
    import spark.implicits._
    val cellU = (c: org.apache.spark.sql.Column) =>
      VectorFunctions.nearest_centroid(c, model.centroids)
    val sqModel = mins.indices.map(i => (i, mins(i), maxs(i)))
      .toDF("pos", "mn", "mx")
    ScalarQuantizer.quantize(df, vecCol, "sq", sqModel)
      .withColumn("cell_id", cellU(col(vecCol)))
      .select(col(idCol), col("sq"), col("cell_id"))
      .repartition(col("cell_id"))
      .write.partitionBy("cell_id").mode("append")
      .parquet(model.indexPath)
    val assigned = minusDeleted(spark, model.indexPath, spark.read
      .option("basePath", model.indexPath)
      .parquet(s"${model.indexPath}/cell_id=*"))
    Model(model.centroids, assigned, model.idCol, "sq", model.indexPath)
  }

  /** Reopen a durable SQ8 index written by [[buildSq8]]: centroids and
    * the scalar model from their sidecars, codes straight off the
    * cell-partitioned parquet — no k-means, no quantization pass, no
    * source corpus. Symmetric with [[load]].
    */
  def loadSq8(spark: SparkSession, path: String, idCol: String)
      : (Model, Array[Double], Array[Double]) = graft.util.BuildTimer.timed {
    locally {
      val p = new org.apache.hadoop.fs.Path(path)
      graft.util.DirSwap.recover(
        p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    val conf = spark.sessionState.newHadoopConf()
    val cents = graft.util.SidecarIO.readCentroids(
      conf, s"$path/_centroids")
    require(cents.nonEmpty, s"no centroid sidecar under $path")
    val (mn, mx) = graft.util.SidecarIO.readSqModel(
      conf, s"$path/_sqmodel")
    require(mn.nonEmpty, s"no scalar-model sidecar under $path")
    val assigned = minusDeleted(spark, path, spark.read
      .option("basePath", path)
      .parquet(s"$path/cell_id=*"))
    (Model(cents, assigned, idCol, "sq", path), mn, mx)
  }

  /** ANN top-k over an SQ8 index: probe cells as in [[search]], decode
    * candidates' codes with the codegen'd Sq8Decode, exact distances
    * against the full-precision query. Unprobed cells stay unread AND
    * probed cells move int8 codes, not floats.
    */
  def searchSq8(model: Model, mins: Array[Double], maxs: Array[Double],
      queries: DataFrame, queryVecCol: String, k: Int, nprobe: Int,
      metric: String = "l2sq",
      filter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val qm = Model(model.centroids, model.assigned, model.idCol,
      queryVecCol, model.indexPath)
    val plan = probeCells(qm, queries, nprobe)
    val probes = broadcast(plan.rows)
    val corpus = filter.foldLeft(
        pruneToProbedCells(model.assigned, plan.cells))(_.where(_))
      .select(col("cell_id"),
        col(model.idCol).cast("long").as("nid"),
        VectorFunctions.col(graft.functions.Sq8Decode(
          VectorFunctions.expr(col("sq")),
          new graft.functions.DoubleVecParam(mins),
          new graft.functions.DoubleVecParam(maxs))).as("cvec"))
    val scored = corpus.join(probes, "cell_id")
      .select(col("qid"), col("nid"),
        Knn.distance(metric)(col("cvec"), col("qvec")).as("dist"))
    scored.groupBy(col("qid"))
      .agg(Knn.topk_by_score(col("dist"), col("nid"), k).as("nn"))
      .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("qid"), col("nn.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("nn.score").as("dist"))
  }
}
