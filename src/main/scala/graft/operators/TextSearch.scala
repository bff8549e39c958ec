package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.util.{CachedRelations, PlanMemo}

/** Full-text relevance scoring and hybrid (text + vector) retrieval —
  * the retrieval primitives a training-data pipeline pairs with the
  * vector search the reference ships (`lantern_cli` serves ANN only;
  * production retrieval fuses it with lexical scoring).
  *
  * Scale shapes: term statistics are groupBy aggregates with map-side
  * combine; only query-term postings survive the early filter; the
  * global top-k is TakeOrderedAndProject (no global sort); ranks are
  * assigned by a window over at most `kEach` pre-selected rows.
  */
object TextSearch {

  /** Okapi BM25 scores for a bag-of-words query over
    * whitespace-tokenized documents, one row per document containing at
    * least one query term: (id, bm25).
    *
    * idf is the Lucene positive variant ln((N - df + 0.5)/(df + 0.5) + 1)
    * with N = documents with at least one token. Per-word contributions
    * are combined in `queryWords` order via conditional aggregates, so
    * the floating-point sum order never depends on partitioning — the
    * score is bit-identical across engines and cluster layouts.
    */
  // One tokenized (id, word) relation per corpus per JVM: BM25 and the
  // hybrid query (and repeated calls) all start from the same exploded
  // word stream, so it is memoized as a persisted DataFrame keyed on
  // the optimized input plan. Both memos persist a relation only when
  // they store it: an unbounded caller (e.g. the HTTP API, where every
  // distinct query string is a new key) must not leak cached relations
  // once a memo is full.
  private val cached = new CachedRelations
  private val wordsMemo = new PlanMemo[(String, String), DataFrame](32,
    cached.persist(_, eager = false))

  private def wordsShared(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val dfn = df.select(col(idCol), col(textCol))
    wordsMemo(dfn, (idCol, textCol))(
      Repartitioning.spreadSmallScan(dfn)
        .select(col(idCol).as("id"),
          explode(split(col(textCol), " ")).as("word")))
  }

  // The finished per-document score relation is also memoized (small:
  // one row per doc containing a query term): q_bm25-style ranking and
  // hybrid fusion over the same (corpus, query) pay the term-statistics
  // pipeline once per JVM, not once per call.
  private val scoreMemo = new PlanMemo[
    (String, String, Seq[String], Double, Double), DataFrame](32,
    cached.persist(_, eager = true))

  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], k1: Double = 1.2, b: Double = 0.75)
      : DataFrame =
    scoreMemo(docs.select(col(idCol), col(textCol)),
        (idCol, textCol, queryWords, k1, b))(
      bm25Uncached(docs, idCol, textCol, queryWords, k1, b))

  private def bm25Uncached(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], k1: Double, b: Double): DataFrame = {
    require(queryWords.nonEmpty && queryWords.distinct == queryWords,
      "queryWords must be non-empty and distinct")
    val words = wordsShared(docs, idCol, textCol)
    val dl = words.groupBy(col("id")).agg(count(lit(1)).as("len"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("len")).as("avglen"))
    val tf = words.where(col("word").isin(queryWords: _*))
      .groupBy(col("id"), col("word")).agg(count(lit(1)).as("tf"))
    val dfw = tf.groupBy(col("word")).agg(count(lit(1)).as("df_w"))
    val scored = tf
      .join(dfw, "word")
      .join(dl, "id")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("word"),
        (log((col("n_docs").cast("double") - col("df_w") + lit(0.5)) /
            (col("df_w") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("len") / col("avglen"))))
          .as("s"))
    // one conditional-max column per query word, summed in word order
    val perWord = queryWords.zipWithIndex.map { case (w, i) =>
      max(when(col("word") === lit(w), col("s"))).as(s"s_$i")
    }
    val total = queryWords.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0)))
      .reduce(_ + _)
    scored.groupBy(col("id"))
      .agg(perWord.head, perWord.tail: _*)
      .select(col("id"), total.as("bm25"))
  }

  /** Top-k BM25 hits as (id, rank, bm25 rounded to 4 decimals); rank by
    * (score desc, id) — selection happens on the unrounded score, so
    * the top-k set matches any engine computing the same doubles.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], k: Int): DataFrame = {
    val top = bm25(docs, idCol, textCol, queryWords)
      .orderBy(col("bm25").desc, col("id")).limit(k)
    top.select(col("id"),
      row_number().over(
        Window.orderBy(col("bm25").desc, col("id"))).as("rnk"),
      (floor(col("bm25") * 10000 + 0.5) / 10000).as("bm25"))
  }

  /** Hybrid retrieval: fuse lexical BM25 and embedding-cosine rankings
    * with reciprocal-rank fusion, rrf = Σ 1/(c + rank) over the two
    * lists (Cormack/Clarke/Buettcher's parameter-free fusion; c = 60 is
    * the published default). Returns the fused top `kOut` as
    * (id, rrf, bm25_rank, cos_rank) with absent ranks null.
    *
    * Each branch pre-selects its own top `kEach` via
    * TakeOrderedAndProject, so ranking windows only ever see `kEach`
    * rows — the corpus is scanned, never globally sorted.
    */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], embeddings: DataFrame, vecIdCol: String,
      vecCol: String, queryVec: DataFrame, kEach: Int = 50, kOut: Int = 20,
      c: Int = 60): DataFrame = {
    // queryVec: one row, column "qv" — broadcast against the corpus
    val cosTop = embeddings.crossJoin(broadcast(queryVec))
      .select(col(vecIdCol).as("id"),
        V.cos_dist(col(vecCol), col("qv")).as("cd"))
      .orderBy(col("cd").asc, col("id")).limit(kEach)
      .select(col("id"), row_number().over(
        Window.orderBy(col("cd").asc, col("id"))).as("cos_rank"))
    hybridRrfRanked(docs, idCol, textCol, queryWords, cosTop, kOut, c)
  }

  /** RRF fusion of ARBITRARY ranked lists: each input is an
    * (id, <rank-col>) relation with a DISTINCT rank column name;
    * rrf(id) = Σ_branches 1/(c + rank), missing branches contribute 0,
    * summed in input order (the double fold stays engine-restatable).
    * Generalizes [[hybridRrfRanked]]'s two-way fusion to N branches —
    * dense + BM25 + learned-sparse in one fused top-k. Branch inputs
    * are pre-cut top lists (≤ kEach rows), so the N-way full outer
    * join touches at most N·kEach rows regardless of corpus size.
    */
  def rrfFuse(ranked: Seq[DataFrame], kOut: Int = 20,
      c: Int = 60): DataFrame = {
    require(ranked.nonEmpty, "need at least one ranked list")
    val rankCols = ranked.map(df => df.columns.filter(_ != "id").head)
    require(rankCols.distinct == rankCols,
      s"rank column names must be distinct, got $rankCols")
    val joined = ranked.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val rrf = rankCols
      .map(rc => coalesce(lit(1.0) / (lit(c) + col(rc)), lit(0.0)))
      .reduce(_ + _)
    joined
      .select((col("id") +: rrf.as("rrf") +: rankCols.map(col)): _*)
      .orderBy(col("rrf").desc, col("id")).limit(kOut)
      .select((col("id") +:
        (floor(col("rrf") * 1000000 + 0.5) / 1000000).as("rrf") +:
        rankCols.map(col)): _*)
  }

  /** Three-way hybrid: BM25 + dense cosine + learned-sparse impacts
    * ([[SparseSearch.topK]]), fused by RRF. The retrieval trio a
    * production stack actually serves — each branch reads only its
    * own index shape (term postings / probed cells / impact postings).
    */
  def hybridRrf3(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], embeddings: DataFrame, vecIdCol: String,
      vecCol: String, queryVec: DataFrame, kEach: Int = 50,
      kOut: Int = 20, c: Int = 60): DataFrame = {
    val bmTop = bm25(docs, idCol, textCol, queryWords)
      .orderBy(col("bm25").desc, col("id")).limit(kEach)
      .select(col("id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("id"))).as("bm25_rank"))
    val cosTop = embeddings.crossJoin(broadcast(queryVec))
      .select(col(vecIdCol).as("id"),
        V.cos_dist(col(vecCol), col("qv")).as("cd"))
      .orderBy(col("cd").asc, col("id")).limit(kEach)
      .select(col("id"), row_number().over(
        Window.orderBy(col("cd").asc, col("id"))).as("cos_rank"))
    val sparseTop = SparseSearch
      .topK(docs, idCol, textCol, queryWords, kEach)
      .select(col("id"), row_number().over(
        Window.orderBy(col("score").desc, col("id"))).as("sparse_rank"))
    rrfFuse(Seq(bmTop, cosTop, sparseTop), kOut, c)
  }

  /** Hybrid RRF with a PLUGGABLE vector branch: `cosRanked` is any
    * (id, cos_rank) relation — typically `IvfIndex.search` output, so
    * the vector candidates come off the cell-partitioned index (probed
    * cells only, PartitionFilters at the scan) instead of a full
    * corpus scan. The fusion math is byte-identical to [[hybridRrf]];
    * at full probe the two produce the same rows.
    */
  def hybridRrfRanked(docs: DataFrame, idCol: String, textCol: String,
      queryWords: Seq[String], cosRanked: DataFrame, kOut: Int = 20,
      c: Int = 60, kEach: Int = 50): DataFrame = {
    val bmTop = bm25(docs, idCol, textCol, queryWords)
      .orderBy(col("bm25").desc, col("id")).limit(kEach)
      .select(col("id"), row_number().over(
        Window.orderBy(col("bm25").desc, col("id"))).as("bm25_rank"))
    val cosTop = cosRanked.select(col("id"), col("cos_rank"))
    bmTop.join(cosTop, Seq("id"), "full_outer")
      .select(col("id"),
        (coalesce(lit(1.0) / (lit(c) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("cos_rank")), lit(0.0)))
          .as("rrf"),
        col("bm25_rank"), col("cos_rank"))
      .orderBy(col("rrf").desc, col("id")).limit(kOut)
      .select(col("id"),
        (floor(col("rrf") * 1000000 + 0.5) / 1000000).as("rrf"),
        col("bm25_rank"), col("cos_rank"))
  }
}
