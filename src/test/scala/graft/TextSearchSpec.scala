package graft

import graft.operators.TextSearch

class TextSearchSpec extends SparkSuite {

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, "table scan fast table table"), // tf(table)=3
      (1L, "table scan slow join group"),
      (2L, "scan scan scan merge sort"),
      (3L, "join group window sort merge"), // no query words
      (4L, "fast fast table scan fast fast fast fast fast fast")
    ).toDF("doc_id", "text")
  }

  test("bm25: only docs containing query terms score; tf raises score") {
    val r = TextSearch.bm25(corpus, "doc_id", "text",
      Seq("table", "scan", "fast"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!r.contains(3L)) // no query words -> no row
    assert(r.keySet == Set(0L, 1L, 2L, 4L))
    assert(r.values.forall(_ > 0.0))
    // doc 0 repeats "table" 3x vs doc 1's 1x at comparable length
    assert(r(0L) > r(1L))
  }

  test("bm25TopK ranks by score desc with id tie-break") {
    val top = TextSearch.bm25TopK(corpus, "doc_id", "text",
      Seq("table", "scan", "fast"), 3).collect()
    assert(top.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
    val scores = top.map(_.getDouble(2))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("idf: a term in every doc contributes less than a rare term") {
    import spark.implicits._
    val df = Seq(
      (0L, "common rare"), (1L, "common x"), (2L, "common y"),
      (3L, "common z"), (4L, "common w")).toDF("doc_id", "text")
    val r = TextSearch.bm25(df, "doc_id", "text", Seq("common", "rare"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // doc 0 has both; its score is dominated by the rare term, so it
    // beats any common-only doc
    assert(r(0L) > r(1L))
  }

  test("a corpus scored past the memos' capacity leaves no relation " +
      "cached") {
    import spark.implicits._
    def score(i: Int) = TextSearch.bm25(
      Seq((i.toLong, s"w$i shared"), (-1L, "shared x")).toDF("doc_id",
        "text"), "doc_id", "text", Seq("shared")).collect()
    (0 until 32).foreach(score) // fills both 32-entry memos
    val before = spark.sparkContext.getPersistentRDDs.size
    score(32)
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }

  test("hybridRrf fuses lexical and vector ranks") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)),
      (3L, Array(0.95f, 0.05f)), (4L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val qv = emb.where($"vec_id" === 0).select($"embedding".as("qv"))
    val fused = TextSearch.hybridRrf(corpus, "doc_id", "text",
      Seq("table", "scan", "fast"), emb, "vec_id", "embedding", qv,
      kEach = 3, kOut = 5)
    val rows = fused.collect()
    // doc 3 has no query words but is vector-rank 2 -> present via
    // cos list with null bm25_rank
    val d3 = rows.find(_.getLong(0) == 3L)
    assert(d3.isDefined && d3.get.isNullAt(2) && !d3.get.isNullAt(3))
    // doc 0 is vector-rank 1 (the query itself) and lexically ranked:
    // both ranks present and it tops the fusion
    val top = rows.maxBy(_.getDouble(1))
    assert(top.getLong(0) == 0L && !top.isNullAt(2) && !top.isNullAt(3))
    // rrf values bounded by 2/(c+1)
    assert(rows.forall(r => r.getDouble(1) <= 2.0 / 61 + 1e-12))
  }
}
