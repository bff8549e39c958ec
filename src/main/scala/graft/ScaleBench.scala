package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-certification bench: times the headline heavy operators on
  * TWO data directories (normally sf0.1 and a `ScaleFixture`-amplified
  * ~10× copy) through the exact registry faces, and prints one JSON
  * line per (face, dir) plus a growth-factor summary. The point is the
  * growth CURVE, not the absolute numbers: replicas are disjoint
  * components with identical internal structure, so the true result
  * cardinality scales linearly by construction and any super-linear
  * runtime is an engine/plan artifact — exactly what a 100 TB
  * deployment would hit.
  *
  * Faces with internal volume caps are re-bound to full-corpus calls
  * here (`sparse_search_full` drops q_sparse_search's doc_id < 300
  * probe-set cap) so the measured work actually grows with the data.
  *
  * Usage: `runMain graft.ScaleBench <dirA> <dirB> [reps] [faces]` —
  * `faces` is an optional comma-separated subset (e.g. to exclude a
  * face whose spill exceeds one host's scratch disk at high factors).
  */
object ScaleBench {

  private val faceNames = Seq("q_pagerank", "q_triangles",
    "q_minhash_dups", "q_ivf_knn", "q_editdist_typos",
    "q_modularity", "q_khop_reach")

  private def extras(
      spark: SparkSession): Map[String, String => DataFrame] = Map(
    "sparse_search_full" -> { dir =>
      graft.operators.SparseSearch.topK(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", "text",
        Seq("spark", "data", "quality", "model"), 20)
    })

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ScaleBench <dirA> <dirB> [reps] [faces]")
    val (dirA, dirB) = (args(0), args(1))
    val reps = if (args.length >= 3) args(2).toInt else 2
    val only: Option[Set[String]] =
      if (args.length >= 4) Some(args(3).split(",").toSet) else None
    def wanted(n: String) = only.forall(_.contains(n))
    val spark = GraftSession.fromEnv()

    // report the triangles broadcast-guard decision per dir: the
    // co-purchase edge count against the same bytes gate the operator
    // applies (the sf0.1→10× flip is a certification target)
    def guardReport(dir: String): Unit = {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val m = li.as("x").join(li.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.l_partkey") < col("y.l_partkey"))
        .select(least(col("x.l_partkey"), col("y.l_partkey")).as("a"),
          greatest(col("x.l_partkey"), col("y.l_partkey")).as("b"))
        .where(col("a") =!= col("b")).distinct().count()
      val pinned = m * 64L <= 128L * 1024 * 1024
      println(s"""{"guard":"triangles","dir":"$dir","und_edges":$m,""" +
        s""""broadcast_pinned":$pinned}""")
    }
    if (wanted("q_triangles")) { guardReport(dirA); guardReport(dirB) }

    val all: Seq[(String, String => DataFrame)] =
      (faceNames.map(n =>
        n -> ((dir: String) => SparkEntry.queries(n)(spark, dir))) ++
      extras(spark).toSeq.sortBy(_._1)).filter(p => wanted(p._1))

    val results = for ((name, fn) <- all; dir <- Seq(dirA, dirB)) yield {
      val times = (1 to reps).map { _ =>
        // drop cross-call memos (shared shingle cache, IVF build
        // handles) so every rep measures the full cold path — min-of-
        // reps otherwise reports the cache-hit time for dedup faces
        graft.operators.Dedup.releaseCaches()
        graft.operators.IvfIndex.releaseModels()
        val t0 = System.nanoTime()
        val n = fn(dir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val best = times.map(_._1).min
      println(f"""{"face":"$name","dir":"$dir","sec":$best%.2f,""" +
        f""""reps":[${times.map(t => f"${t._1}%.2f").mkString(",")}],""" +
        s""""rows":${times.head._2}}""")
      (name, dir, best, times.head._2)
    }
    println("GROWTH SUMMARY (dirB/dirA):")
    results.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (name, rs) =>
      val a = rs.find(_._2 == dirA).get
      val b = rs.find(_._2 == dirB).get
      println(f"""{"face":"$name","secA":${a._3}%.2f,"secB":${b._3}%.2f,""" +
        f""""growth":${b._3 / a._3}%.2f,"rowsA":${a._4},"rowsB":${b._4}}""")
    }
    spark.stop()
  }
}
