package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.streaming.StreamingQuery

import graft.plans.SummaryRewrite
import graft.plans.SummaryRewrite.{ExprMeasure, Sketch}
import graft.util.DirSwap

/** Incrementally maintained materialized rollup — the streaming face
  * of [[graft.plans.SummaryRewrite]]: base-table appends arrive as a
  * file-source stream, and each micro-batch's PARTIAL rollup
  * (cnt / s_m / sd_m / c_m / mn_m / mx_m / hll_k per dim group) is
  * appended to the rollup table as extra rows under its own
  * `chunk=<batchId>` partition.
  *
  * No merge step exists, by design: the serve-side rewrite
  * re-aggregates rollup rows with the same combiners (SUM of sums,
  * MIN of mins, elementwise-max of HLL registers), so a group split
  * across the base build (chunk=-1) and any number of delta chunks
  * reads back exactly. This is the classic partial-aggregate
  * MV-maintenance trick: maintenance cost per batch is one map-side
  * aggregation of the batch, never a read-modify-write of the rollup.
  *
  * Idempotency (the D10 lesson, as in [[VectorIngestStream]]): each
  * batch writes with DYNAMIC partition overwrite scoped to its own
  * `chunk=N` — a replay after a crash between write and checkpoint
  * commit rewrites the same partition instead of double-counting. The
  * overwrite mode is a per-WRITER option (as VectorIngestStream
  * already does), never a mutation of the session conf a concurrent
  * writer could observe mid-batch.
  *
  * [[compact]] folds accumulated delta chunks back into a single
  * chunk=-1 build by re-aggregating the ROLLUP'S OWN ROWS — every
  * column is an associative partial (that is what makes serve-time
  * merging correct), so the fold is sum-of-sums / min-of-mins /
  * register-max at dim-cardinality cost. The base table is never
  * read (at 100 TB a base rescan is a full fact-table pass; an
  * earlier compact did exactly that while claiming to be cheap).
  * Published through [[graft.util.DirSwap.replace]]'s two-rename
  * protocol, so a crash mid-swap heals on the next call.
  * `SummaryRewrite.register(refresh = true)` remains the explicit
  * full-rebuild ("retrain") path.
  */
object SummaryStream {

  /** Register `summaryDir` as an ENTIRELY stream-maintained rollup:
    * writes an empty (schema-only) chunk=-1 build and registers it, so
    * a subsequently [[start]]ed stream with a FRESH checkpoint folds in
    * every existing base file as ordinary batches — no initial
    * snapshot exists to double-count (a file source has no
    * skip-existing option, so mixing a full `buildSummary` with a
    * fresh checkpoint would count the initial files twice). Serve-side
    * reads reflect exactly the batches committed so far: bounded
    * staleness, the standard streaming-MV contract.
    */
  def registerStreaming(spark: SparkSession, basePath: String,
      summaryDir: String, dims: Seq[String], measures: Seq[String],
      declaredScale: Map[String, Int] = Map.empty,
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): Unit = {
    // write the 0-row build INTO the chunk=-1 partition dir (no
    // partitionBy: a partitioned write of zero rows writes no
    // partition dirs at all, leaving the rollup unreadable and every
    // pre-first-batch query silently falling back to the base) — this
    // way partition discovery sees one schema-bearing empty file and
    // the rewrite serves correct EMPTY aggregates immediately
    SummaryRewrite.partialRollup(
        spark.read.parquet(basePath).limit(0), dims, measures, sketches,
        exprs)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$summaryDir/chunk=-1")
    // register() keys the already-built check on a ROOT _SUCCESS
    // marker; the subdir write above only created one inside chunk=-1
    locally {
      val root = new org.apache.hadoop.fs.Path(summaryDir, "_SUCCESS")
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.create(root, true).close()
    }
    spark.catalog.refreshByPath(summaryDir)
    SummaryRewrite.register(spark, basePath, summaryDir, dims, measures,
      declaredScale = declaredScale, sketches = sketches, exprs = exprs)
  }

  /** Start maintaining `summaryDir` from base files appearing under
    * `basePath`. Pair with [[registerStreaming]] + a fresh checkpoint
    * (all files are folded in as batches), or with an existing
    * checkpoint that has already seen the files the current rollup
    * build covers.
    */
  def start(spark: SparkSession, basePath: String, summaryDir: String,
      dims: Seq[String], measures: Seq[String], checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): StreamingQuery = {
    val schema = spark.read.parquet(basePath).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(basePath)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, summaryDir, dims, measures, sketches,
          exprs)
        ()
      }
      .start()
  }

  /** One micro-batch: partial rollup of the batch rows, written to the
    * batch's own chunk partition (dynamic overwrite ⇒ replay rewrites,
    * never double-counts). Package-visible so the spec drives batch
    * semantics directly.
    */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      summaryDir: String, dims: Seq[String], measures: Seq[String],
      sketches: Seq[Sketch] = Nil,
      exprs: Seq[ExprMeasure] = Nil): Unit = {
    val spark = batch.sparkSession
    SummaryRewrite.partialRollup(batch, dims, measures, sketches, exprs)
      .withColumn("chunk", lit(batchId))
      .coalesce(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("chunk").parquet(summaryDir)
    // new delta files must be visible to the next serve-side plan
    spark.catalog.refreshByPath(summaryDir)
  }

  /** Fold all delta chunks back into a single chunk=-1 build by
    * re-aggregating the ROLLUP's rows with the serve-side combiners —
    * dim-cardinality cost, zero base-table I/O (the base may not even
    * exist anymore; the spec pins both). Crash-safe via
    * [[DirSwap.replace]]: the folded build and a retraction marker land
    * in `summaryDir.rebuild`, which is published over the live dir with
    * the two-rename protocol, healing any previously interrupted swap
    * first.
    */
  def compact(spark: SparkSession, summaryDir: String,
      dims: Seq[String]): Unit = {
    val live = new Path(summaryDir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    DirSwap.replace(fs, live) { fresh =>
      spark.catalog.refreshByPath(summaryDir)
      val roll = spark.read.parquet(summaryDir)
      val schema = roll.schema
      def typed(name: String, c: Column): Column =
        c.cast(schema(name).dataType).as(name)
      // dims (the group keys) and the chunk partition column must never
      // fall into the prefix dispatch — a dim NAMED like a derived
      // column (register refuses new ones, but an old artifact might
      // carry one) would otherwise be aggregated AND grouped
      val dimSet = dims.toSet + "chunk"
      val aggs: Seq[Column] = schema.fieldNames.toSeq
        .filterNot(dimSet.contains).map {
        case "cnt" => typed("cnt", sum(col("cnt")))
        case n if SummaryRewrite.isSumPartial(n) => typed(n, sum(col(n)))
        case n if n.startsWith("mn_") => typed(n, min(col(n)))
        case n if n.startsWith("mx_") => typed(n, max(col(n)))
        case n => SummaryRewrite.Sketch.parse(n) match {
          case Some(sk) => GraftShims.column(sk.merge(
            GraftShims.expression(col(n))).toAggregateExpression()).as(n)
          case None => throw new IllegalArgumentException(
            s"rollup column '$n' at $summaryDir is not a dim, a measure " +
              "partial or a sketch kind: no combiner folds it")
        }
      }
      require(aggs.nonEmpty, s"$summaryDir does not look like a rollup")
      roll.groupBy(dims.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("chunk", lit(-1L))
        .coalesce(1)
        .write.mode("overwrite").partitionBy("chunk")
        .parquet(fresh)
      // retraction restriction survives compaction: the folded mn_/mx_
      // still include deleted rows' extremes (min over chunk minima
      // skips the retraction chunks' nulls), so only a refresh rebuild
      // from the post-delete base may clear the marker. It is written
      // into the rebuild, so the publish makes it visible with the fold.
      val marker = SummaryRewrite.RetractedMarker
      if (fs.exists(new Path(live, marker)))
        fs.create(new Path(fresh, marker), true).close()
    }
    spark.catalog.refreshByPath(summaryDir)
  }

  // ---- deletes -----------------------------------------------------
  // Two lifecycles, matching how data actually leaves a 100 TB fact:
  //  - RETENTION (whole ingest batches expire): [[deleteChunk]] drops
  //    the batch's partial rows — an exact subtraction for EVERY
  //    measure kind (sums, min/max, HLL/hist/KMV/MG/sample sketches),
  //    because the chunk's partials are precisely its contribution.
  //  - ROW-LEVEL deletes (GDPR erasure, bad-record takedowns):
  //    [[retract]] appends a chunk of NEGATED partials, so the
  //    sign-foldable family (COUNT/SUM/AVG/variance) nets out exactly
  //    with no rollup rewrite; non-invertible partials (MIN/MAX,
  //    sketches) cannot retract, so the serve falls back to base for
  //    them until a `register(refresh = true)` rebuild clears the
  //    [[SummaryRewrite.RetractedMarker]].

  /** Drop one ingest batch's partials from the rollup — the retention
    * delete. The caller deletes the matching base files under its own
    * protocol; the rollup subtraction here is exact for every measure
    * kind, including the non-invertible ones, because a chunk's
    * partial rows are exactly its contribution to every fold.
    */
  def deleteChunk(spark: SparkSession, summaryDir: String,
      chunk: Long): Unit = {
    val dir = new Path(summaryDir, s"chunk=$chunk")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(dir),
      s"no chunk=$chunk partition under $summaryDir")
    fs.delete(dir, true)
    spark.catalog.refreshByPath(summaryDir)
  }

  /** Append a retraction chunk for `deleted` base rows (the caller
    * removes the rows from the base itself): sign-foldable partials
    * (cnt, s_/sd_/ss_/c_) are NEGATED so every serve-side SUM nets
    * them out per dim group; non-invertible partials (mn_/mx_ and all
    * sketch columns) are written NULL — their combiners skip nulls —
    * and the [[SummaryRewrite.RetractedMarker]] makes the rewrite
    * refuse to serve the aggregates they back (plus grouping-set and
    * join-spine shapes, and it net-count-filters groups whose rows
    * were ALL deleted) until a `refresh = true` rebuild. `measures` /
    * `exprs` must cover the registration's — a missing measure would
    * write a NULL partial that a SUM fold silently SKIPS (checked
    * against the live schema).
    *
    * `chunk` must be unique among retraction chunks and never collide
    * with an append batch id — use descending ids from -2 (the base
    * build owns -1, stream batches own 0..N).
    */
  def retract(spark: SparkSession, basePath: String, summaryDir: String,
      deleted: DataFrame, dims: Seq[String], measures: Seq[String],
      chunk: Long,
      exprs: Seq[ExprMeasure] = Nil): Unit = {
    require(chunk <= -2,
      s"retraction chunks use ids <= -2 (got $chunk): -1 is the base " +
        "build, 0..N are stream batches")
    val live = spark.read.parquet(summaryDir).schema
    val part = SummaryRewrite.partialRollup(deleted, dims, measures,
      exprs = exprs)
    val have = part.columns.toSet
    val needed = live.fieldNames.filter(SummaryRewrite.isSumPartial)
    val missing = needed.filterNot(have.contains)
    require(missing.isEmpty,
      s"retract must cover every sign-foldable partial of the rollup " +
        s"at $summaryDir; missing: ${missing.mkString(", ")} — pass " +
        "the registration's full measures/exprs lists")
    val cols = live.fields.toSeq.filter(_.name != "chunk").map { f =>
      f.name match {
        case n if dims.contains(n) => col(n).cast(f.dataType).as(n)
        case "cnt" => (-col("cnt")).cast(f.dataType).as("cnt")
        case n if needed.contains(n) => (-col(n)).cast(f.dataType).as(n)
        case n => lit(null).cast(f.dataType).as(n)
      }
    }
    part.select(cols: _*)
      .withColumn("chunk", lit(chunk))
      .coalesce(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("chunk").parquet(summaryDir)
    val marker = new Path(summaryDir, SummaryRewrite.RetractedMarker)
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(marker, true).close()
    SummaryRewrite.markRetracted(spark, basePath)
    spark.catalog.refreshByPath(summaryDir)
  }
}
