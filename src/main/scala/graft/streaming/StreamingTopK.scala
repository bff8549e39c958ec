package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.HeavyHitters

/** Continuous top-k frequent items over an unbounded stream with
  * O(capacity) state — the streaming face of [[HeavyHitters]] /
  * `mg_sketch` ([[graft.operators.MgKind]]).
  *
  * The whole aggregation state is ONE Misra–Gries buffer (≤ capacity
  * entries, serialized into the state store by the
  * TypedImperativeAggregate contract): each micro-batch partially
  * aggregates map-side, merges into the stored buffer, and the
  * undercount bound — every item with true frequency > N/(capacity+1)
  * over the WHOLE stream prefix is present, estimates undercount by at
  * most N/(capacity+1) — holds across batches because Misra–Gries
  * merging is associative (Agarwal et al., Mergeable Summaries).
  * Contrast with a groupBy(item).count() stream, whose state grows
  * with the item domain (unbounded for n-grams).
  *
  * Reference anchor: the reference has no streaming analytics; this is
  * the trending-n-grams/hot-keys monitor a continuous ingest pipeline
  * runs next to [[NearDupStream]].
  */
object StreamingTopK {

  /** The streaming plan: complete-mode global sketch → top-k rows
    * (item, est), est descending. Works identically on a batch frame
    * (the sketch is then exact-candidate pass 1 of HeavyHitters).
    */
  def topKFrame(items: DataFrame, itemCol: String, k: Int,
      capacity: Int): DataFrame =
    items
      .groupBy()
      .agg(HeavyHitters.mg_sketch(col(itemCol), capacity).as("s"))
      .select(explode(slice(col("s"), 1, k)).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("est"))

  /** Start the stream: every trigger overwrites `outDir` with the
    * current top-k snapshot (idempotent under replay — the snapshot is
    * a pure function of the stream prefix, and a re-run of the last
    * batch rewrites the same rows).
    */
  def start(items: DataFrame, itemCol: String, k: Int, capacity: Int,
      outDir: String, checkpointDir: String): StreamingQuery =
    topKFrame(items, itemCol, k, capacity)
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .start()
}
