package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sub-document (span-level) duplication analysis: which word n-gram
  * spans of a document also occur in OTHER documents. This is the
  * RefinedWeb/Gopher-style passage-dedup signal — document-level dedup
  * (see [[Dedup]]) misses boilerplate passages repeated across many
  * otherwise-distinct documents.
  *
  * Spans ride as 64-bit FNV-1a hashes from [[Dedup.hashedShingleSets]]
  * (one UDF pass per row, no gram strings materialized), so the shuffle
  * moves 8-byte longs. Shapes at scale:
  *   - shared-gram detection = groupBy(gramHash) count — partial
  *     aggregation caps map output at one row per distinct gram per
  *     partition;
  *   - the join back is a left-semi-shaped LEFT join on the gram hash;
  *     AQE broadcasts the shared set when it is small.
  */
object SpanDedup {

  /** Per-document span-duplication stats: distinct n-gram count, how
    * many of those grams appear in at least one other document, and the
    * duplicated fraction (4-decimal portable rounding). Documents with
    * fewer than n words emit no row (they have no spans).
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    // Shared memoized scan: the gram sets are read twice below (shared
    // detection + join back) and again by contamination() over the same
    // corpus — one persisted UDF pass instead of three.
    val grams = Dedup.hashedShingleSetsShared(df, idCol, textCol, n)
      .select(col("id"), explode(col("hs")).as("gh"))
    // Grams are distinct per doc, so count(*) per gram == distinct docs.
    val shared = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("docs"))
      .where(col("docs") > 1)
      .select(col("gh"), lit(1L).as("isdup"))
    grams.join(shared, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("grams"),
        sum(coalesce(col("isdup"), lit(0L))).as("dup_grams"))
      .select(col("id"), col("grams"), col("dup_grams"),
        (floor(col("dup_grams").cast("double") / col("grams").cast("double")
          * 10000 + 0.5) / 10000).as("dup_frac"))
  }

  /** Above this many distinct eval grams the contamination join stops
    * forcing a broadcast and falls back to a plain shuffle join — the
    * same cap-then-degrade discipline as [[Dedup]]'s shingle
    * dictionary. Real benchmark suites are small by nature, but a
    * caller passing a large `isEval` slice must get a plan downgrade,
    * not an executor OOM. Test hook: overridable so specs can force
    * the fallback on small fixtures.
    */
  private[graft] val EvalGramCapDefault = 5000000L
  @volatile private[graft] var evalGramCapOverride: Option[Long] = None

  /** Benchmark-contamination check: for every training document (rows
    * NOT in the eval set), the fraction of its distinct word n-grams
    * that appear anywhere in the eval set — the standard pre-training
    * decontamination scan. The eval gram set is tiny relative to the
    * corpus, so it is explicitly broadcast and the training side is
    * never shuffled; when the eval side's word-count bound exceeds
    * [[EvalGramCapDefault]] the join degrades to a BLOOM-PRUNED
    * shuffle: a bloom filter over the eval gram hashes (a few MB of
    * bits even when the gram ROWS no longer fit a broadcast) drops
    * the train grams that cannot match before they reach the
    * exchange, and the exact gram join afterwards removes the bloom's
    * false positives — results identical, shuffle input shrunk from
    * the whole train corpus to ~hits + fpp·grams.
    *
    * `strategy`: "auto" (cap-based, the default), "broadcast" (force
    * the small-eval plan), or "bloom" (force the pruned-shuffle
    * plan).
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      n: Int, isEval: org.apache.spark.sql.Column,
      strategy: String = "auto"): DataFrame = {
    require(Set("auto", "broadcast", "bloom").contains(strategy),
      s"unknown contamination strategy: $strategy")
    // One shared full-corpus gram scan (memoized with dupSpanStats and
    // the dedup chain), split into eval/train by a cheap (id, flag)
    // join — gram hashing is per-document, so hashing the full corpus
    // once and filtering equals hashing each side separately. The flag
    // side carries two thin columns; AQE broadcasts it when small.
    val sets = Dedup.hashedShingleSetsShared(df, idCol, textCol, n)
    val flags = df.select(col(idCol).as("id"), isEval.as("_is_eval"))
    val tagged = sets.join(flags, "id")
    // Persisted: read by the join AND re-read if the caller keeps the
    // result lazy across actions; registered with the operator cache
    // registry so releaseCaches() drops it in long-lived sessions.
    val evalGrams = tagged.where(col("_is_eval"))
      .select(explode(col("hs")).as("gh"))
      .distinct()
      .select(col("gh"), lit(1L).as("hit"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(Dedup.caches.track)
    val trainGrams = tagged.where(!col("_is_eval"))
      .select(col("id"), explode(col("hs")).as("gh"))
    // Broadcast sizing uses a conservative bound computable WITHOUT the
    // gram pipeline: a doc of w words has at most w distinct n-grams,
    // so summing whitespace tokens over the eval rows alone (a thin
    // pruned scan of the small side) upper-bounds the distinct eval
    // gram count. Counting the materialized gram set itself would
    // schedule the full corpus gram-hash job ahead of the main join
    // purely to size the plan — pure added latency on every call.
    val cap = evalGramCapOverride.getOrElse(EvalGramCapDefault)
    val evalGramBound = df.where(isEval)
      .agg(coalesce(sum(size(split(col(textCol), "\\s+"))), lit(0L)))
      .head.getLong(0)
    val useBroadcast = strategy match {
      case "broadcast" => true
      case "bloom" => false
      case _ => evalGramBound <= cap
    }
    val frac = (floor(col("eval_grams").cast("double")
      / col("grams").cast("double") * 10000 + 0.5) / 10000)
      .as("contam_frac")
    if (useBroadcast) {
      trainGrams.join(broadcast(evalGrams), Seq("gh"), "left")
        .groupBy(col("id"))
        .agg(count(lit(1)).as("grams"),
          sum(coalesce(col("hit"), lit(0L))).as("eval_grams"))
        .select(col("id"), col("grams"), col("eval_grams"), frac)
    } else {
      // Pruned-shuffle shape. The per-doc gram TOTAL never needed the
      // join — it is size(hs) — so only potential HITS flow into the
      // exchange: train grams that pass the (broadcast, parameter-
      // sized) bloom over the eval gram hashes. The inner join then
      // discards false positives, keeping results exact.
      val trainSets = tagged.where(!col("_is_eval"))
        .where(size(col("hs")) > 0)
      val counts = trainSets.select(col("id"), size(col("hs"))
        .cast("long").as("grams"))
      val bloom = graft.functions.BloomFunctions.build(
        evalGrams, "gh", expectedItems = evalGramBound, fpp = 0.01)
      val hits = trainSets
        .select(col("id"), explode(col("hs")).as("gh"))
        .where(graft.functions.BloomFunctions.mightContain(col("gh"),
          bloom))
        .join(evalGrams, Seq("gh"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("eval_grams"))
      counts.join(hits, Seq("id"), "left")
        .select(col("id"), col("grams"),
          coalesce(col("eval_grams"), lit(0L)).as("eval_grams"))
        .select(col("id"), col("grams"), col("eval_grams"), frac)
    }
  }
}
