package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Exact (brute-force) kNN and recall — the Spark-native answer to the
  * reference's ANN tooling (SURVEY J3/J4/X5-X7: ground-truth generation
  * `index_autotune/mod.rs:189-219`, recall `:238-249`).
  *
  * Plan shape: corpus stays partitioned; the (small) query set is
  * broadcast into a cross join; distances are computed by codegen'd
  * expressions; the bounded `TopKByScore` aggregate does map-side top-k
  * so the shuffle carries only k rows per (query, partition). At 100 TB
  * corpus scale this is embarrassingly parallel with no corpus shuffle.
  */
object Knn {
  // smaller = better everywhere, so the inner product is negated
  private val distances =
    scala.collection.immutable.ListMap[String, (Column, Column) => Column](
      "l2sq" -> VectorFunctions.l2sq_dist,
      "cos" -> VectorFunctions.cos_dist,
      "l1" -> VectorFunctions.l1_dist,
      "dot" -> ((a, b) => -VectorFunctions.inner_product(a, b)))

  /** Every metric name [[distance]] accepts. */
  val metrics: Seq[String] = distances.keys.toSeq

  def distance(metric: String)(a: Column, b: Column): Column =
    distances.getOrElse(metric, throw new IllegalArgumentException(
      s"unknown metric: $metric"))(a, b)

  /** Aggregate column: top-k smallest (score, id) pairs. */
  def topk_by_score(score: Column, id: Column, k: Int): Column =
    VectorFunctions.col(
      TopKByScore(VectorFunctions.expr(score), VectorFunctions.expr(id), k)
        .toAggregateExpression())

  /** For every row of `queries`, the `k` nearest rows of `corpus`.
    *
    * Integral ids take the bounded-aggregate path (map-side top-k, the
    * scale plan); TEXT/UUID ids (the reference supports both as pks,
    * `daemon_embeddings_test_with_db.rs:1120,1178`) fall back to a
    * window ranking, which shuffles all pairs — fine for moderate
    * query sets, and the id type is the caller's signal.
    *
    * @param corpus  (idCol, vecCol: ARRAY<FLOAT>) — arbitrarily large
    * @param queries (idCol, vecCol: ARRAY<FLOAT>) — small, broadcast
    * @return (qid, nid, rank, dist) — rank 1..k by (dist, nid)
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, metric: String = "l2sq"): DataFrame = {
    val integral = corpus.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType => true
      case _ => false
    }
    val q = broadcast(queries.select(
      col(idCol).as("qid"), col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("cvec"))
    // NaN distances (e.g. cos_dist with a zero-norm vector) are
    // excluded up front so both ranking paths agree (a NaN would
    // permanently occupy a TopKBuffer slot but sort last in a window).
    val scored = c.crossJoin(q).select(
      col("qid"), col("nid"),
      distance(metric)(col("cvec"), col("qvec")).as("dist"))
      .where(!isnan(col("dist")))
    if (integral) {
      scored
        .select(col("qid").cast("long").as("qid"),
          col("nid").cast("long").as("nid"), col("dist"))
        .groupBy(col("qid"))
        .agg(topk_by_score(col("dist"), col("nid"), k).as("nn"))
        .select(col("qid"), posexplode(col("nn")).as(Seq("pos", "nn")))
        .select(col("qid"), col("nn.id").as("nid"),
          (col("pos") + 1).cast("int").as("rank"),
          col("nn.score").as("dist"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("dist"), col("nid"))
      scored
        .select(col("qid"), col("nid"),
          row_number().over(w).as("rank"), col("dist"))
        .where(col("rank") <= k)
    }
  }

  /** Maximal-Marginal-Relevance re-rank (Carbonell & Goldstein 1998)
    * of a top-k result set: greedily pick the candidate maximizing
    * λ·(−dist) − (1−λ)·max_cos_sim(candidate, already-picked), i.e.
    * trade query relevance against redundancy with what is already
    * selected — the standard diversity pass a RAG retriever runs over
    * its candidates.
    *
    * Scale shape: the greedy loop runs per query inside a UDF over
    * that query's BOUNDED candidate list (k is a query parameter, not
    * a data-scale quantity); queries stay distributed. Ties break on
    * (score desc, nid asc) so the output is deterministic.
    *
    * @param results (qid, nid, rank, dist) — `topK`/`IvfIndex.search`
    *   output
    * @param vectors (idCol, vecCol) relation resolving candidate ids
    * @param m       how many to keep per query (m <= k)
    */
  def mmrRerank(results: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, lambda: Double = 0.5, m: Int = 10): DataFrame = {
    val cands = results.join(
        vectors.select(col(idCol).cast("long").as("nid"),
          col(vecCol).as("nvec")), "nid")
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("nid"), col("dist"), col("nvec")))
        .as("cs"))
    val mmrU = udf((cs: Seq[org.apache.spark.sql.Row]) => {
      val items = cs.map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Float](2).toArray))
        .sortBy { case (id, d, _) => (d, id) }
      def cosSim(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
      }
      val picked = scala.collection.mutable.ArrayBuffer[
        (Long, Double)]()
      val pickedVecs = scala.collection.mutable.ArrayBuffer[
        Array[Float]]()
      val remaining = scala.collection.mutable.ArrayBuffer(items: _*)
      while (picked.length < m && remaining.nonEmpty) {
        var bestIdx = 0; var bestScore = Double.MinValue
        var bestId = Long.MaxValue
        var i = 0
        while (i < remaining.length) {
          val (id, d, v) = remaining(i)
          // clamp at 0: anti-parallel candidates are merely
          // non-redundant, never BONUS-worthy
          val red =
            if (pickedVecs.isEmpty) 0.0
            else math.max(0.0, pickedVecs.map(p => cosSim(v, p)).max)
          val s = lambda * -d - (1 - lambda) * red
          if (s > bestScore || (s == bestScore && id < bestId)) {
            bestScore = s; bestIdx = i; bestId = id
          }
          i += 1
        }
        val (id, _, v) = remaining.remove(bestIdx)
        picked += ((id, bestScore)); pickedVecs += v
      }
      picked.toSeq
    })
    cands.select(col("qid"), posexplode(mmrU(col("cs")))
        .as(Seq("pos", "p")))
      .select(col("qid"), col("p._1").as("nid"),
        (col("pos") + 1).cast("int").as("mmr_rank"),
        col("p._2").as("mmr_score"))
  }

  /** Mean recall@k of `result` against `truth`, both shaped
    * (qid, nid, rank): |truth ∩ result| / k per query. Every truth
    * query appears in the output — a query with zero overlap scores
    * 0.0 rather than silently vanishing from the mean.
    * Reference: `index_autotune/mod.rs:238-249`.
    */
  def recall(truth: DataFrame, result: DataFrame, k: Int): DataFrame = {
    val t = truth.where(col("rank") <= k).select(col("qid"), col("nid"))
    val r = result.where(col("rank") <= k)
      .select(col("qid"), col("nid"), lit(1).as("hit"))
    t.join(r, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg((sum(coalesce(col("hit"), lit(0))) / k).as("recall"))
  }

  /** Order-sensitive retrieval quality of `result` against `truth`
    * (both (qid, nid, rank)): per query, MRR (reciprocal rank of the
    * first relevant result; 0 when none) and binary-relevance nDCG@k
    * (relevant = membership in the truth top-k; IDCG is the all-hits
    * DCG, so a result list that IS the truth list scores 1). The
    * metrics recall@k can't see: recall treats "true neighbor at rank
    * 1" and "true neighbor at rank k" identically, but an ANN serving
    * layer that re-ranks (MMR, ADC refine) needs the ORDER graded.
    * Standard IR definitions (Järvelin & Kekäläinen 2002 for DCG);
    * every step is a join + windowless aggregate, restatable by an
    * independent engine — no wall-clock, no RNG.
    */
  def rankQuality(truth: DataFrame, result: DataFrame,
      k: Int): DataFrame = {
    val log2 = (x: org.apache.spark.sql.Column) => log(2.0, x)
    val idcg = (1 to k).map(r => 1.0 / (math.log(r + 1.0) /
      math.log(2.0))).sum
    val t = truth.where(col("rank") <= k)
      .select(col("qid"), col("nid"), lit(1).as("hit"))
    val r = result.where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
    r.join(t, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(
        round(coalesce(max(when(col("hit") === 1,
          lit(1.0) / col("rank"))), lit(0.0)), 4).as("mrr"),
        round(sum(when(col("hit") === 1,
          lit(1.0) / log2(col("rank") + 1)).otherwise(lit(0.0)))
          / lit(idcg), 4).as("ndcg"))
  }
}
