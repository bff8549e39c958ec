package graft.util

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** What one compaction did: the partition directories and data files of
  * the published index, and the data files it replaced.
  */
final case class CompactionStats(partitions: Int, filesBefore: Int,
    filesAfter: Int)

/** The on-disk lifecycle shared by the durable index artifacts: the IVF
  * inverted file (`cell_id=` partitions) and the sparse posting file
  * (`bucket=` partitions). Both are a directory of hive-style partition
  * directories next to `_`-prefixed sidecars that no partition glob
  * reads:
  *
  *  - `_deleted`: tombstoned ids, one column named after the index's id
  *    column, anti-joined out of every read until a compaction purges
  *    the rows;
  *  - `_schema`: a 0-row file carrying the row schema, written only when
  *    a compaction leaves no partition directory (every row purged), so
  *    a validly empty index still opens;
  *  - the index's own sidecars, which each index copies or recomputes
  *    through [[compact]]'s hook.
  *
  * Compaction rebuilds the directory in a `.rebuild` sibling and
  * publishes it with [[DirSwap.replace]]; [[open]] heals a swap interrupted
  * between its two renames.
  */
private[graft] object IndexDir {

  private def tombstones(path: String) = s"$path/_deleted"
  private def schemaMarker(path: String) = s"$path/_schema"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Heal a compaction or reindex swap interrupted between its renames. */
  def open(spark: SparkSession, path: String): Unit =
    DirSwap.recover(fsOf(spark, path), new Path(path))

  /** The `partCol=` directories under `root`: one driver filesystem
    * call, no Spark job.
    */
  private def partitions(fs: FileSystem, root: Path,
      partCol: String): Seq[String] =
    Option(fs.globStatus(new Path(root, s"$partCol=*")))
      .fold(Seq.empty[String])(_.toSeq.map(_.getPath.toString))

  /** Every stored row, tombstones not applied: the `partCol=`
    * directories, or the `_schema` marker's 0 rows when there are none.
    * The directories are passed as listed, not as the glob: Spark probes
    * a single glob path for a streaming-sink `_spark_metadata` log, a
    * probe that fails on the `*` and logs a warning with a stack trace.
    */
  def scan(spark: SparkSession, path: String, partCol: String): DataFrame =
    partitions(fsOf(spark, path), new Path(path), partCol) match {
      case Seq() => spark.read.parquet(schemaMarker(path))
      case dirs => spark.read.option("basePath", path).parquet(dirs: _*)
    }

  def hasTombstones(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new Path(tombstones(path)))

  /** The live rows: [[scan]] minus the tombstoned ids. The sidecar's
    * own column name is the id column it deletes by. Tombstones are an
    * operational trickle between compactions, so they come up as a
    * driver-local relation and the anti-join is broadcast; the filter
    * references only the scan side, so partition filters still prune
    * the scan.
    */
  def live(spark: SparkSession, path: String, partCol: String): DataFrame = {
    val rows = scan(spark, path, partCol)
    if (!hasTombstones(spark, path)) rows
    else {
      val (name, del) = SidecarIO.readSingleColLocal(spark,
        tombstones(path), "__deleted_id")
      rows.join(broadcast(del), rows(name) === col("__deleted_id"),
        "left_anti")
    }
  }

  /** The id column of a tombstone frame, which must have exactly one. */
  def tombstoneId(ids: DataFrame): String = {
    require(ids.columns.length == 1,
      s"delete expects a single-id-column frame, got " +
        ids.columns.mkString(","))
    ids.columns.head
  }

  /** Append the distinct `ids` to the `_deleted` sidecar and return how
    * many were recorded. The sidecar names its id column once: a second
    * delete by another name would write mixed-schema parquet whose
    * merged read nulls the older ids and resurfaces them, so it is
    * refused.
    */
  def tombstone(spark: SparkSession, path: String, ids: DataFrame): Long = {
    val name = tombstoneId(ids)
    if (hasTombstones(spark, path)) {
      val existing = SidecarIO.schemaOf(spark.sessionState.newHadoopConf(),
          tombstones(path))
        .map(_.getFields.get(0).getName)
        .getOrElse(name)
      require(existing == name,
        s"the _deleted sidecar at $path already tombstones by " +
          s"'$existing'; a second delete must use the same id column " +
          s"(got '$name')")
    }
    val del = ids.distinct()
    val n = del.count()
    del.coalesce(1).write.mode("append").parquet(tombstones(path))
    spark.catalog.refreshByPath(path)
    n
  }

  /** The data files under `root`'s `partCol=` directories, sorted by
    * path: listing order is up to the filesystem, and a merge numbers
    * its staged files by position, so a retry must see the same order.
    */
  def dataFiles(fs: FileSystem, root: Path, partCol: String): Seq[Path] = {
    val top = fs.makeQualified(root)
    val out = scala.collection.mutable.ArrayBuffer[Path]()
    val it = fs.listFiles(top, true)
    while (it.hasNext) {
      val p = it.next().getPath
      val name = p.getName
      // only files directly in a partition directory of the root: the
      // rows the partition glob reads, never a `_`-prefixed subtree's
      if (p.getParent.getName.startsWith(s"$partCol=") &&
          p.getParent.getParent.toUri.getPath == top.toUri.getPath &&
          !name.startsWith("_") && !name.startsWith("."))
        out += p
    }
    out.toSeq.sortBy(_.toString)
  }

  /** Copy the sidecars `names` that exist under `from` into `to`. */
  def copySidecars(spark: SparkSession, from: String, to: String,
      names: Seq[String]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    for (side <- names) {
      val src = new Path(s"$from/$side")
      val fs = src.getFileSystem(conf)
      if (fs.exists(src))
        FileUtil.copy(fs, src, fs, new Path(s"$to/$side"), false, conf)
    }
  }

  /** Write `rows` to `dest` partitioned by `partCol`, each partition in
    * at most `targetFiles` files: more than one salts the shuffle by
    * `idCol`, so one huge partition is not one unsplittable task. A
    * write that leaves no partition directory writes the `_schema`
    * marker instead.
    */
  def rewrite(rows: DataFrame, partCol: String, idCol: String,
      targetFiles: Int, dest: String, mode: SaveMode): Unit = {
    val keys =
      if (targetFiles == 1) Seq(col(partCol))
      else Seq(col(partCol), pmod(hash(col(idCol)), lit(targetFiles)))
    rows.repartition(keys: _*)
      .write.partitionBy(partCol).mode(mode).parquet(dest)
    val fs = fsOf(rows.sparkSession, dest)
    if (partitions(fs, new Path(dest), partCol).isEmpty)
      rows.limit(0).coalesce(1).write.mode("overwrite")
        .parquet(schemaMarker(dest))
  }

  /** Rewrite the live rows of the index at `path` into at most
    * `targetFiles` files per partition, purging tombstoned rows, and
    * publish the result over the live directory.
    *
    * @param sidecars called with the rebuild directory and whether
    *   tombstones were purged, before the publish; it copies the
    *   index's sidecars or recomputes the ones the purge changed. The
    *   `_deleted` sidecar is never carried over.
    */
  def compact(spark: SparkSession, path: String, partCol: String,
      idCol: String, targetFiles: Int)(
      sidecars: (String, Boolean) => Unit): CompactionStats = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    val before = DirSwap.replace(fs, root) { fresh =>
      spark.catalog.refreshByPath(path)
      rewrite(live(spark, path, partCol), partCol, idCol, targetFiles,
        fresh, SaveMode.Overwrite)
      sidecars(fresh, hasTombstones(spark, path))
      dataFiles(fs, root, partCol) // the live files: untouched until publish
    }
    spark.catalog.refreshByPath(path)
    val after = dataFiles(fs, root, partCol)
    CompactionStats(after.map(_.getParent.getName).distinct.size,
      before.size, after.size)
  }
}
