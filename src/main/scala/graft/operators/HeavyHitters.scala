package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Exact two-pass heavy hitters over an unbounded item domain — the
  * 100 TB answer to "top-k n-grams of the corpus".
  *
  * A plain `GROUP BY item ORDER BY count DESC LIMIT k` (q_top_words)
  * shuffles one row per DISTINCT item; on a web-scale corpus the n-gram
  * vocabulary is billions of keys and that shuffle is the bottleneck.
  * Here pass 1 runs a Misra–Gries summary ([[MgKind]]) as a real
  * partial aggregate — each partition emits one ≤capacity-entry sketch,
  * so shuffle volume is capacity × partitions regardless of vocabulary
  * size — and pass 2 exactly counts ONLY the ≤capacity candidates (a
  * broadcast semi-join prune, then a ≤capacity-key groupBy).
  *
  * EXACTNESS: the merged summary provably contains every item with true
  * frequency > N/(capacity+1) (Misra–Gries / Mergeable Summaries bound).
  * So the two-pass result equals the exact top-k whenever the k-th item
  * clears that threshold — pick capacity ≫ k·skew accordingly; the
  * returned `c` counts are exact (pass 2), never estimates.
  *
  * Reference anchor: corpus vocabulary statistics in the reference run
  * as full SQL aggregations (lantern's oracle-style queries); this is
  * the sketch-accelerated equivalent a distributed engine needs.
  */
object HeavyHitters {

  /** Aggregate column: Misra–Gries summary of `item` at `capacity`. */
  def mg_sketch(item: Column, capacity: Int): Column =
    VectorFunctions.col(
      SketchAggregate.partial(MgKind(capacity), VectorFunctions.expr(item))
        .toAggregateExpression())

  /** Exact top-k items of `items(df)` by count, via sketch candidates +
    * exact recount. Output: (item STRING, c BIGINT) ordered by
    * (c DESC, item), exactly k rows (fewer if the domain is smaller).
    */
  def topK(df: DataFrame, itemCol: String, k: Int,
      capacity: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Pass 1: one merged sketch row — bounded by capacity, driver-safe.
    val sketch = df.select(mg_sketch(col(itemCol), capacity).as("s"))
      .select(explode($"s").as("e")).select($"e.item")
      .collect().map(_.getString(0))
    // Pass 2: exact counts of candidates only. A broadcast LEFT SEMI
    // join prunes to ≤capacity distinct keys without materializing a
    // capacity-arm IN expression (at capacity 4096+ a literal isin
    // stresses codegen and the driver-side plan; the semi-join is the
    // same prune as one broadcast hash lookup per row).
    val cand = spark.createDataset(sketch.toSeq.distinct)
      .toDF("__mg_candidate")
    df.join(broadcast(cand), col(itemCol) === $"__mg_candidate", "left_semi")
      .groupBy(col(itemCol).as("item"))
      .agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"item")
      .limit(k)
  }
}
