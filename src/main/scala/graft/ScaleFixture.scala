package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structure-preserving volume amplifier for the driver's parquet
  * tables — the input generator for the round's scale-certification
  * runs (`ScaleBench`). Each table is replicated `factor`× with its
  * key namespaces shifted per replica, so every replica carries the
  * SAME internal structure (graph topology, near-dup clusters, typo
  * pairs, vector geometry) while replicas never collide with each
  * other:
  *
  *  - `lineitem`: orderkey/partkey/suppkey shifted by replica ×
  *    (max+1) — the co-purchase graph, pagerank bipartite graph and
  *    every join key replicate as disjoint components, so true
  *    triangle/rank/dup counts scale exactly linearly and any
  *    super-linear RUNTIME growth is the engine's, not the data's.
  *  - `customer`: custkey shifted; c_name regenerated in the same
  *    `Customer#%09d` format from the shifted key and then passed
  *    through the replica's letter cipher (digits and '#' untouched,
  *    so every within-replica edit distance is preserved EXACTLY).
  *    Without the cipher all 10 replicas share the literal
  *    "Customer#" segment and the ed-join's hot candidate bucket
  *    grows 10× — candidate work 100×, which measures the (real,
  *    documented) quadratic nature of ONE shared-prefix namespace
  *    rather than the engine's growth on 10× more data. Scaling as
  *    10 disjoint namespaces keeps the per-replica adversarial
  *    regime and makes the true pair count — and the intended
  *    candidate volume — exactly linear.
  *  - `documents`: doc_id shifted; the text of replica k is passed
  *    through a per-replica alphabet-rotation cipher (`translate` of
  *    a–z/A–Z by k positions). A bijective character map preserves
  *    every within-replica shingle set, Jaccard score and edit
  *    distance EXACTLY while making cross-replica token overlap ~0 —
  *    near-dup pair counts scale linearly instead of quadratically.
  *  - `embeddings`: vec_id shifted; replica k ≥ 1 vectors are
  *    deterministically jittered (hash-derived per-coordinate offset
  *    in [0, 0.01)) so no two replicas tie in distance ranking;
  *    replica 0 is bit-identical to the source, keeping the original
  *    query vectors intact.
  *  - `part`, `orders`: key-shifted replicas (khop seeds, MV bases).
  *
  * Usage: `runMain graft.ScaleFixture <srcDir> <outDir> <factor>
  * [embFactor]` — embeddings default to 10×`factor` because the
  * source table is only 2k rows and an IVF index needs real volume
  * before cell pruning means anything.
  */
object ScaleFixture {

  /** Per-replica bijective character map: the AFFINE cipher on the
    * letter plane, i → (a·i + b) mod 26 with a coprime to 26 — 12
    * multipliers × 26 shifts = 312 distinct letter bijections, so no
    * two replicas k1 ≠ k2 share a cipher below factor 312. (A pure
    * rotation cycles at 26: replicas 26+ collided with 0+ and
    * re-introduced cross-replica near-dups at factor 30 — and a
    * digit-plane fallback does not help text that carries no digits.)
    * Character bijections preserve every within-replica shingle set,
    * Jaccard score and edit distance exactly; k = 0 is the identity
    * (a = 1, b = 0).
    */
  private def rotated(k: Int): (String, String) = {
    require(k < 312, s"cipher supports at most 312 replicas, got $k")
    val coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val a = coprimes(k / 26)
    val b = k % 26
    def affine(alpha: String): String =
      alpha.indices.map(i => alpha((a * i + b) % 26)).mkString
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    (lower + upper, affine(lower) + affine(upper))
  }

  /** Replicate `df` `factor`× applying `shape(replicaId)` to each
    * copy; replica 0 is always the identity so original rows (query
    * anchors, seed sets) survive verbatim.
    */
  private def amplify(df: DataFrame, factor: Int)(
      shape: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => shape(df, k)).reduce(_ unionAll _)

  def lineitem(src: DataFrame, factor: Int): DataFrame = {
    val (mo, mp, ms) = {
      val r = src.agg(max("l_orderkey"), max("l_partkey"),
        max("l_suppkey")).collect()(0)
      (r.getLong(0) + 1, r.getLong(1) + 1, r.getLong(2) + 1)
    }
    amplify(src, factor) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * mo))
        .withColumn("l_partkey", col("l_partkey") + lit(k * mp))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * ms))
    }
  }

  def customer(src: DataFrame, factor: Int): DataFrame = {
    val mc = src.agg(max("c_custkey")).collect()(0).getLong(0) + 1
    amplify(src, factor) { (d, k) =>
      val (from, to) = rotated(k)
      val named = d.withColumn("c_custkey", col("c_custkey") + lit(k * mc))
        .withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey") % lit(mc)))
      if (k == 0) named
      else named.withColumn("c_name", translate(col("c_name"), from, to))
    }
  }

  def documents(src: DataFrame, factor: Int): DataFrame = {
    val md = src.agg(max("doc_id")).collect()(0).getLong(0) + 1
    amplify(src, factor) { (d, k) =>
      val (from, to) = rotated(k)
      d.withColumn("doc_id", col("doc_id") + lit(k * md))
        .withColumn("text",
          if (k == 0) col("text") else translate(col("text"), from, to))
    }
  }

  def embeddings(src: DataFrame, factor: Int): DataFrame = {
    val mv = src.agg(max("vec_id")).collect()(0).getLong(0) + 1
    amplify(src, factor) { (d, k) =>
      val shifted = d.withColumn("vec_id", col("vec_id") + lit(k * mv))
      if (k == 0) shifted
      else shifted.withColumn("embedding",
        expr("transform(embedding, (x, i) -> CAST(x + " +
          "(abs(hash(vec_id, i)) % 1000) / 100000.0D AS FLOAT))"))
    }
  }

  def keyShift(src: DataFrame, factor: Int, keyCol: String): DataFrame = {
    val mk = src.agg(max(keyCol)).collect()(0).getLong(0) + 1
    amplify(src, factor) { (d, k) =>
      d.withColumn(keyCol, col(keyCol) + lit(k * mk))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ScaleFixture <srcDir> <outDir> <factor> [embFactor]")
    val (srcDir, outDir, factor) = (args(0), args(1), args(2).toInt)
    val embFactor =
      if (args.length >= 4) args(3).toInt else factor * 10
    val spark = GraftSession.fromEnv()
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"SCALEFIXTURE $t rows=" +
        spark.read.parquet(s"$outDir/$t.parquet").count())
    }
    write(lineitem(read("lineitem"), factor), "lineitem")
    write(customer(read("customer"), factor), "customer")
    write(documents(read("documents"), factor), "documents")
    write(embeddings(read("embeddings"), embFactor), "embeddings")
    write(keyShift(read("part"), factor, "p_partkey"), "part")
    write(keyShift(read("orders"), factor, "o_orderkey"), "orders")
    spark.stop()
  }
}
