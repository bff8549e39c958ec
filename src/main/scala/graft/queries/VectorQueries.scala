package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}
import graft.operators.Knn
import graft.operators.IvfIndex.StorageKind

/** Vector operator coverage (SURVEY §2.8 F15, §2.3 J3/J4, §2.2 P6,
  * §2.11 X5-X7): distances, norms, subvector slices, brute-force kNN,
  * recall.
  *
  * Oracle parity: the DuckDB side re-states every distance as the SAME
  * index-ordered double fold the Catalyst expressions compute
  * (list_transform + list_sum over casts to DOUBLE), so full-precision
  * ORDER BY ranks agree bit-for-bit; only displayed distances are
  * rounded.
  */
object VectorQueries {
  private implicit class ColName(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  import OracleFrag.{dkL2sq, dkDot, dkNormSq, dkCos}

  /** Shared per-JVM artifact dir for the fixed-first-16-anchor faces
    * (recall/quality/stats): same corpus + same frozen quantizer means
    * one assignment write serves all of them (and repeated bench reps)
    * through the buildWithCentroids memo. Mutating faces (merge,
    * compact) deliberately do NOT share it.
    */
  private def fixed16Dir(dir: String): String = jvmDir("fixed16", dir)

  /** A per-JVM temp dir for the artifact `tag` over the tables at `dir`:
    * stable across a JVM's reps, distinct across JVMs and datasets.
    */
  private def jvmDir(tag: String, dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      s"${java.lang.ProcessHandle.current().pid()}_" +
      Integer.toHexString(dir.hashCode)

  /** The first 16 embeddings by id: the frozen coarse quantizer of the
    * fixed-anchor IVF faces, which the oracles restate.
    */
  private def anchors16(emb: DataFrame): Array[Array[Float]] =
    emb.where($"vec_id" < 16).orderBy($"vec_id")
      .select($"embedding").collect().map(_.getSeq[Float](0).toArray)

  /** Shared per-JVM rollup dir for the embeddings-table MV faces: one
    * build (label-grain, carrying the vector-sum measure) serves every
    * rep — register is idempotent once the _SUCCESS marker exists.
    */
  private[graft] def embMvDir(dir: String): String = jvmDir("embmv", dir)

  private def registerEmbMv(s: SparkSession, dir: String): Unit =
    graft.plans.SummaryRewrite.register(s, s"$dir/embeddings.parquet",
      embMvDir(dir), Seq("label"), Nil,
      sketches = Seq(graft.plans.SummaryRewrite.VecSpec("embedding")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F15 / vector_norm over the embeddings table.
    "q_vec_norm" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select($"vec_id", round(V.vector_norm($"embedding"), 4).as("nrm"))
        .orderBy($"vec_id")),

    // P6: subvector slice pushed as projection. pq/codebook.rs:177-186.
    // Output exploded to (vec_id, pos, val): the gate comparator can't
    // hash array cells.
    "q_vec_slice" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select($"vec_id", posexplode(slice($"embedding", 1, 8)))
        .toDF("vec_id", "pos", "val")
        .orderBy($"vec_id", $"pos")),

    // Scalar int8 quantization (SQ8): per-dimension affine codes — the
    // 4x storage compression an embedding corpus runs at scale. Fit is
    // one partial-agg pass to a DIM-row model; coding is a pure
    // codegen'd projection (see ScalarQuantizer). Exploded for the
    // gate; codes are exact integers in both engines.
    "q_vec_scalar_quant" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.ScalarQuantizer.fit(emb, "embedding")
      graft.operators.ScalarQuantizer.quantize(
        emb.select($"vec_id", $"embedding"), "embedding", "sq", model)
        .select($"vec_id", posexplode($"sq".cast("array<int>")))
        .toDF("vec_id", "pos", "code")
    }),

    // kNN over the SQ8-COMPRESSED corpus: queries stay full-precision,
    // neighbors are scored against the dequantized codes — the search
    // face of scalar quantization (4x less corpus I/O than float32).
    // Reconstruction is deterministic, so unlike IVF recall this is
    // exactly oracle-checkable: DuckDB restates fit → code → decode →
    // brute-force top-k.
    "q_sq_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.ScalarQuantizer.fit(emb, "embedding")
      val codes = graft.operators.ScalarQuantizer.quantize(
        emb.select($"vec_id", $"embedding"), "embedding", "sq", model)
        .select($"vec_id", $"sq")
      val rec = graft.operators.ScalarQuantizer.dequantize(
        codes, "sq", "vhat", model).select($"vec_id", $"vhat")
      val queries = emb.where($"vec_id" < 10)
        .select($"vec_id", $"embedding".as("vhat"))
      Knn.topK(rec, queries, "vec_id", "vhat", k = 10)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // IVF over SQ8-compressed cells: unprobed cells unread (partition
    // pruning) AND probed cells move int8 codes, not floats — the
    // composed 100 TB I/O shape. Gated at full probe (nprobe =
    // nCells), where cell pruning is a no-op and the result must equal
    // brute-force over the dequantized corpus — the same oracle as
    // q_sq_knn; IvfSpec guards the pruned partial-probe plan.
    "q_ivf_sq_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.IvfIndex.build(
        emb.select($"vec_id", $"embedding"), "vec_id", "embedding",
        nCells = 8, kind = StorageKind.Sq8())
      val queries = emb.where($"vec_id" < 10)
        .select($"vec_id", $"embedding")
      graft.operators.IvfIndex.search(model, queries, k = 10, nprobe = 8)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // F15: vector_normalize round-trip (unit inputs scaled first so
    // the operation is non-trivial); exploded for the gate.
    "q_vec_normalize" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select($"vec_id", posexplode(V.vector_normalize(
          transform($"embedding", x => x * 3.0f))))
        .toDF("vec_id", "pos", "val")
        .orderBy($"vec_id", $"pos")),

    // Linear algebra over the corpus (see graft.operators.Pca /
    // VectorMoments): one-pass mergeable moments — per-dimension mean
    // and the population covariance of the leading 8 dims, exploded to
    // (i, j, cov). The aggregate moves ONE O(d^2) buffer per partition
    // regardless of corpus size; the 36-pair index map is a constant
    // literal.
    "q_vec_cov" -> ((s, dir) => {
      import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val emb = Tables(s, dir, "embeddings")
        .select(slice($"embedding", 1, 8).as("v"))
      val m = emb.agg(V.vector_moments($"v").as("m"))
        .select($"m.cov".as("cov"))
      val d = 8
      val pairs = (for { i <- 0 until d; j <- i until d } yield (i, j))
        .zipWithIndex.map { case ((i, j), t) => (i, j, t) }
      val pdf = pairs.toDF("i", "j", "t")
      pdf.crossJoin(m)
        .select($"i", $"j",
          round(element_at($"cov", $"t" + 1), 4).as("cov"))
        .orderBy($"i", $"j")
    }),

    // Per-dimension corpus mean from the same moments pass.
    "q_vec_mean" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .agg(V.vector_moments($"embedding").as("m"))
        .select(posexplode($"m.mean"))
        .toDF("j", "mean")
        .select($"j", round($"mean", 4).as("mean"))
        .orderBy($"j")),

    // PCA spectrum sanity served as a face: the Jacobi eigenvalue sum
    // must equal the covariance trace, which DuckDB recomputes as the
    // sum of per-dimension population variances over the RAW table —
    // an oracled invariant of the full eigen-decomposition (the
    // k-means-style "model content" itself is invariant-tested in
    // VectorLinalgSpec, same split as q_pq_codebook).
    "q_pca_trace" -> ((s, dir) => {
      import s.implicits.{localSeqToDatasetHolder, newProductEncoder}
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding", 64)
      Seq((model.dims, BigDecimal(model.eigenvalues.sum)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("dims", "trace")
    }),

    // PCA projection to the top-4 axes (rows-only: eigenvectors are
    // not SQL-restatable; twinned by the oracled q_pca_trace above and
    // VectorLinalgSpec's projected-variance == eigenvalue invariant).
    "q_pca_project" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding", 4)
      graft.operators.Pca.project(emb, "embedding", model, "p")
        .select($"vec_id", posexplode($"p"))
        .toDF("vec_id", "c", "val")
        .orderBy($"vec_id", $"c")
    }),

    // PCA projection under a FROZEN basis (the OPQ/RVQ fixed-twin
    // pattern): Pca.project runs its real per-row MatVecProject path,
    // but the model is pinned — zero mean, 4 orthonormal butterfly
    // axes (axis t = (e_t + e_{t+32})/sqrt2). Each axis row has TWO
    // nonzero coefficients, so the double fold collapses to two
    // multiply-adds that DuckDB restates token for token (zero terms
    // are exact IEEE no-ops), and the micro-unit floor makes the face
    // hash-exact — the projection arithmetic q_pca_project's learned
    // basis can't oracle gets its ⊕ row here.
    "q_pca_project_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val d = 64
      val s2 = 1.0 / math.sqrt(2.0)
      val comps = Array.tabulate(4, d)((t, j) =>
        if (j == t || j == t + 32) s2 else 0.0)
      val model = graft.operators.PcaModel(d, 0L,
        Array.fill(d)(0.0), Array.fill(4)(0.0), comps, 0.0)
      graft.operators.Pca.project(emb, "embedding", model, "p")
        .select($"vec_id", posexplode($"p"))
        .toDF("vec_id", "c", "v")
        .select($"vec_id", $"c",
          expr("CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)")
            .as("v_micro"))
        .orderBy($"vec_id", $"c")
    }),

    // Seeded Johnson–Lindenstrauss sparse projection to 8 dims — the
    // training-free dimension reduction ahead of LSH/clustering. Pure
    // per-row map (no shuffle); the oracle restates the same v^3 mod
    // 101 mod 6 sign hash and index-ordered fold.
    "q_rand_project" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select($"vec_id", posexplode(V.rand_project($"embedding", 8)))
        .toDF("vec_id", "c", "val")
        .select($"vec_id", $"c", round($"val", 4).as("val"))
        .orderBy($"vec_id", $"c")),

    // Diagonal z-score OOD: sum of squared per-dimension z-scores —
    // the covariance-free outlier score a curation pipeline gates on.
    // One moments pass for the model, then a pure map; fully restated
    // in SQL.
    "q_ood_zscore" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.operators.Pca.zscoreSquared(emb, "embedding", "score")
        .select($"vec_id", round($"score", 4).as("score"))
        .orderBy($"vec_id")
    }),

    // Full-covariance Mahalanobis OOD, served through its exact trace
    // identity: the mean of squared Mahalanobis distances over the
    // fitting corpus equals the dimension d EXACTLY (E[(x-mu)'
    // Sigma^-1 (x-mu)] = tr(Sigma^-1 Sigma) = d), so DuckDB restates
    // the answer from len(embedding) alone while the Spark side must
    // actually run moments -> Jacobi -> whiten -> score to land on it
    // — a hash-oracled end-to-end check of the whole pipeline.
    "q_mahalanobis_mean" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.Pca.fit(emb, "embedding", 64)
      graft.operators.Pca.mahalanobis(emb, "embedding", model, "score")
        .agg(count(lit(1)).as("n_rows"),
          round(avg($"score"), 4).as("mean_score"))
    }),

    // Per-label embedding centroids served from a materialized rollup
    // (SummaryRewrite.VecSpec): the base table is aggregated ONCE into
    // per-label struct(n, sums) partials; the serve folds partials and
    // divides — at 100 TB the read touches a label-cardinality-sized
    // table, never the corpus. DuckDB recomputes the per-(label, j)
    // mean from the RAW table, proving the partial-sum fold value-
    // exact (to the 4-decimal rounding every vector face uses).
    "q_mv_centroid" -> ((s, dir) => {
      registerEmbMv(s, dir)
      graft.plans.SummaryRewrite.groupCentroids(s, embMvDir(dir),
          Seq("label"), "embedding")
        .select($"label", $"n", posexplode($"centroid").as(Seq("j", "c")))
        .select($"label", $"n", $"j".cast("int").as("j"),
          round($"c", 4).as("c"))
        .orderBy($"label", $"j")
    }),

    // Nearest-centroid assignment FROM THE ROLLUP: the per-label
    // centroids are read from the materialized rollup (dim-
    // cardinality-sized — never the corpus), broadcast, and every
    // vector is assigned to its closest centroid map-side (argmin as
    // min-of-struct partial agg, one shuffled row per vector). The
    // drift-check / pseudo-label read a training pipeline runs after
    // q_mv_centroid; output is the label x assigned confusion count,
    // which DuckDB restates exactly from the raw table.
    "q_centroid_assign" -> ((s, dir) => {
      registerEmbMv(s, dir)
      val cents = broadcast(
        graft.plans.SummaryRewrite.groupCentroids(s, embMvDir(dir),
            Seq("label"), "embedding")
          .select($"label".as("clabel"), $"centroid"))
      Tables(s, dir, "embeddings")
        .where($"embedding".isNotNull)
        .select($"vec_id", $"label",
          $"embedding".cast("array<double>").as("e"))
        .crossJoin(cents)
        .select($"vec_id", $"label",
          struct(V.l2sq_dist_f64($"e", $"centroid").as("dist"),
            $"clabel").as("dc"))
        .groupBy($"vec_id", $"label").agg(min($"dc").as("m"))
        .select($"label", $"m.clabel".as("assigned"))
        .groupBy($"label", $"assigned")
        .agg(count(lit(1)).as("n"))
        .orderBy($"label", $"assigned")
    }),

    // F15: all three metrics against an anchor vector (vec_id = 0).
    "q_dist_anchor" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val anchor = broadcast(
        emb.where($"vec_id" === 0).select($"embedding".as("anchor")))
      emb.crossJoin(anchor).select(
        $"vec_id",
        round(V.l2sq_dist($"embedding", $"anchor"), 4).as("l2sq"),
        round(V.cos_dist($"embedding", $"anchor"), 4).as("cos"),
        round(V.inner_product($"embedding", $"anchor"), 4).as("dot"))
        .orderBy($"vec_id")
    }),

    // Cluster-balanced corpus sampling — the diversity-aware subset
    // selection step a curation pipeline runs after dedup (cluster the
    // embedding space, draw equally per cluster so no mode dominates).
    // Centroids are FIXED (the first-K vectors), so the whole face is
    // deterministic and hash-oracled; the fitted-k-means variant is
    // the same plan with ProductQuantizer/IvfIndex centroids. Scale
    // shape end to end: broadcast K centroids, map-side argmin folded
    // into a partial agg (min over struct(dist, cid) — one shuffled
    // row per vector, never the K-expanded relation); the per-cluster
    // draw is the bounded TopKByScore aggregate (each partition ships
    // ≤ n rows per cluster — a per-cid row_number window would sort a
    // whole cluster in one task); the n×K winners broadcast back for
    // their payload columns.
    "q_cluster_sample" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = broadcast(emb.where($"vec_id" < 8)
        .select($"vec_id".as("cid"), $"embedding".as("cvec")))
      val assigned = emb.crossJoin(cents)
        .select($"vec_id",
          struct(V.l2sq_dist($"embedding", $"cvec").as("dist"),
            $"cid").as("dc"))
        .groupBy($"vec_id").agg(min($"dc").as("m"))
        .select($"vec_id", $"m.cid".as("cid"), $"m.dist".as("dist"))
      // deterministic per-cluster draw: ranks by (draw, vec_id), the
      // exact order the TopKByScore heap breaks ties in
      val drawn = assigned.withColumn("draw",
        pmod($"vec_id" * 2654435761L, lit(1000000007L)).cast("double"))
      val winners = drawn.groupBy($"cid")
        .agg(Knn.topk_by_score($"draw", $"vec_id", 20).as("t"))
        .select($"cid", posexplode($"t").as(Seq("pos", "e")))
        .select($"cid", ($"pos" + 1).cast("int").as("rnk"),
          $"e.id".as("vec_id"))
      assigned.join(broadcast(winners), Seq("cid", "vec_id"))
        .select($"cid", $"vec_id", round($"dist", 4).as("dist"), $"rnk")
        .orderBy($"cid", $"rnk")
    }),

    // J3/X5: exact kNN ground truth, 10 query points, k=10, l2sq.
    "q_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      Knn.topK(emb, queries, "vec_id", "embedding", k = 10)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // F15 hamming: sign-bit vectors of embeddings vs the anchor's.
    "q_sign_hamming" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val signs = emb.select($"vec_id",
        transform($"embedding",
          x => when(x > 0f, 1).otherwise(0)).as("sgn"))
      val anchor = broadcast(signs.where($"vec_id" === 0)
        .select($"sgn".as("asgn")))
      signs.crossJoin(anchor).select($"vec_id",
        V.hamming_dist($"sgn", $"asgn").as("hd"))
        .orderBy($"vec_id")
    }),

    // B1 binary-quantized kNN with exact rescore — the reference index
    // server's B1 quantization kind (external_index/server.rs:93-99)
    // as a two-stage search: sign bits pack 64-per-LONG (32× less data
    // than floats), the XOR+POPCNT hamming scan shortlists 4k
    // candidates map-side-bounded, and only the shortlist touches full
    // floats for the exact l2 re-rank. At 100 TB the corpus pass moves
    // bits, not vectors; the float fetch is a broadcast semi-probe of
    // k·oversample ids per query.
    "q_bq_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val bits = emb.select($"vec_id", V.bq_encode($"embedding").as("bits"))
      val q = broadcast(emb.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          V.bq_encode($"embedding").as("qbits")))
      val shortlist = bits.crossJoin(q.select($"qid", $"qbits"))
        .select($"qid", $"vec_id".as("nid"),
          V.bq_hamming($"bits", $"qbits").cast("double").as("hd"))
        .groupBy($"qid")
        .agg(Knn.topk_by_score($"hd", $"nid", 40).as("sl"))
        .select($"qid", explode($"sl").as("e"))
        .select($"qid", $"e.id".as("nid"))
      shortlist
        .join(emb.select($"vec_id".as("nid"), $"embedding".as("nvec")),
          "nid")
        .join(q.select($"qid", $"qvec"), "qid")
        .select($"qid", $"nid",
          V.l2sq_dist($"nvec", $"qvec").as("dist"))
        .groupBy($"qid")
        .agg(Knn.topk_by_score($"dist", $"nid", 10).as("nn"))
        .select($"qid", posexplode($"nn").as(Seq("pos", "nn")))
        .select($"qid", $"nn.id".as("nid"),
          ($"pos" + 1).cast("int").as("rank"),
          round($"nn.score", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Matryoshka (prefix-truncated) kNN with full-dim rescore
    // (Kusupati et al. 2022, "Matryoshka Representation Learning"):
    // the shortlist scan reads only the first 16 of the embedding's
    // dims — at scale that projection prunes the vector column's pages
    // to a quarter — then the exact metric re-ranks the survivors.
    "q_mrl_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val trunc = emb.select($"vec_id",
        slice($"embedding", 1, 16).as("tv"))
      val q = broadcast(emb.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"),
          slice($"embedding", 1, 16).as("qtv")))
      val shortlist = trunc.crossJoin(q.select($"qid", $"qtv"))
        .select($"qid", $"vec_id".as("nid"),
          V.l2sq_dist($"tv", $"qtv").as("td"))
        .groupBy($"qid")
        .agg(Knn.topk_by_score($"td", $"nid", 40).as("sl"))
        .select($"qid", explode($"sl").as("e"))
        .select($"qid", $"e.id".as("nid"))
      shortlist
        .join(emb.select($"vec_id".as("nid"), $"embedding".as("nvec")),
          "nid")
        .join(q.select($"qid", $"qvec"), "qid")
        .select($"qid", $"nid",
          V.l2sq_dist($"nvec", $"qvec").as("dist"))
        .groupBy($"qid")
        .agg(Knn.topk_by_score($"dist", $"nid", 10).as("nn"))
        .select($"qid", posexplode($"nn").as(Seq("pos", "nn")))
        .select($"qid", $"nn.id".as("nid"),
          ($"pos" + 1).cast("int").as("rank"),
          round($"nn.score", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // IVF ANN with full probing — must reproduce exact kNN, so it
    // shares the exact oracle (the scale path degrades gracefully).
    "q_ivf_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      graft.operators.IvfIndex.search(model, queries, k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Planner-transparent ANN (the reference's headline UX: a plain
    // `ORDER BY embedding <-> q LIMIT k` uses the index because the
    // PLANNER says so, not because the query spells out a search
    // call). The face registers the table's IVF index and then runs
    // the naive sort-limit query; IndexedKnnRule swaps the corpus
    // scan + global sort for the index probe during optimization.
    // Full probe ⇒ exact, so a brute-force oracle restates it;
    // IndexedKnnSpec asserts the plan really is the index scan.
    "q_indexed_knn" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val idxDir = jvmDir("idxknn", dir)
      graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
        nCells = 16, maxIter = 5, indexDir = Some(idxDir))
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 0)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(50)
        .select($"vec_id", round($"dist", 4).as("dist"))
    }),

    // The APPROXIMATE planner rewrite, hash-oracled: under a FIXED
    // coarse quantizer (first-16-vector centroids) a 4-of-16-probe
    // rewrite of the same naive sort-limit query is a deterministic
    // function DuckDB restates end to end — assignment, probing,
    // candidate ranking (the q_ivf_recall_fixed trick applied to the
    // planner path). This pins the rule's approximate semantics, not
    // just its exact degenerate case.
    "q_indexed_knn_probe" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val idxDir = jvmDir("idxprobe", dir)
      graft.operators.IvfIndex.buildWithCentroids(emb, "vec_id",
        "embedding", cents, Some(idxDir))
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 4)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(20)
        .select($"vec_id", round($"dist", 4).as("dist"))
    }),

    // Planner payload fetch-back: the NATURAL user spelling —
    // `SELECT id, payload, dist ORDER BY dist LIMIT k` — rewrites to
    // probe + broadcast fetch-back join; the base-table read skips
    // the vector column and nothing corpus-wide is sorted. Full probe
    // ⇒ exact, so brute force (with the payload joined) restates it.
    "q_indexed_payload" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val idxDir = jvmDir("idxpay", dir)
      graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
        nCells = 8, maxIter = 5, indexDir = Some(idxDir))
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 0)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id", $"label",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(20)
        .select($"vec_id", $"label", round($"dist", 4).as("dist"))
    }),

    // Planner-transparent BQ: the same ORDER BY dist LIMIT k shape,
    // but the registered artifact carries packed sign bits and a
    // shortlist depth, so the rewrite plants the two-stage hamming
    // shortlist + exact rescore instead of the float probe. Fixed
    // quantizer + fixed shortlist ⇒ every stage restatable.
    "q_indexed_bq" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val idxDir = jvmDir("idxbq", dir)
      graft.operators.IvfIndex.buildWithCentroids(emb, "vec_id",
        "embedding", cents, Some(idxDir), kind = StorageKind.Bq)
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 4, shortlist = 40)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(20)
        .select($"vec_id", round($"dist", 4).as("dist"))
    }),

    // The planner rewrite serving an F16 artifact: the same plain
    // `ORDER BY l2sq_dist(...) LIMIT k` spelling, served from a
    // half-width index (no float column on disk) at the registered
    // nprobe — approximate by registration, like the BQ shortlist.
    // The whole approximation (probe, assignment, f16 grid, ranking)
    // is restated by the oracle.
    "q_indexed_f16" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val idxDir = jvmDir("idxf16", dir)
      graft.operators.IvfIndex.buildWithCentroids(emb, "vec_id",
        "embedding", cents, Some(idxDir), kind = StorageKind.F16)
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 4)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .orderBy($"dist").limit(20)
        .select($"vec_id", round($"dist", 4).as("dist"))
    }),

    // The planner-transparent RANGE rewrite: a plain
    // `WHERE l2sq_dist(embedding, q) <= r` over the registered table
    // becomes the cell-pruned range probe during optimization — the
    // range-scan twin of q_indexed_knn. Full probe (nprobe = 0) ⇒
    // exact, so brute force restates it; IndexedKnnSpec asserts the
    // rule fired and the original <-vs-<= comparison survives.
    "q_indexed_range" -> ((s, dir) => {
      val path = s"$dir/embeddings.parquet"
      val emb = Tables(s, dir, "embeddings")
      val idxDir = jvmDir("idxknn", dir)
      graft.operators.IvfIndex.build(emb, "vec_id", "embedding",
        nCells = 16, maxIter = 5, indexDir = Some(idxDir))
      graft.plans.IndexedKnn.register(s, path, idxDir, "vec_id",
        "embedding", nprobe = 0)
      val q = emb.where($"vec_id" === 0).select($"embedding")
        .head.getSeq[Float](0)
      emb.select($"vec_id",
          V.l2sq_dist($"embedding", typedlit(q)).as("dist"))
        .where($"dist" <= 1.5)
        .orderBy($"dist", $"vec_id")
        .select($"vec_id", round($"dist", 4).as("dist"))
    }),

    // Incremental index maintenance: build over the even half, APPEND
    // the odd half with frozen centroids (no k-means, no rebuild —
    // how a 100 TB inverted file absorbs a daily batch), then full
    // probe ⇒ exact kNN over the WHOLE corpus, so the q_knn oracle
    // restates it. A fresh per-invocation index dir keeps repeated
    // runs idempotent (append twice would duplicate rows).
    // Right-to-be-forgotten maintenance: tombstone-delete every 10th
    // id from the durable artifact (O(ids) sidecar write, no cell
    // rewrite), then COMPACT to purge physically — full probe over the
    // purged index == exact kNN over the corpus minus the deleted ids
    // (the oracle restates that filter). Deleted ids must be absent
    // from every neighbor list even where they were the query's own
    // nearest neighbor.
    "q_ivf_delete_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_delete").toString
      val base = graft.operators.IvfIndex.build(emb, "vec_id",
        "embedding", nCells = 16, maxIter = 5,
        indexDir = Some(s"$tmp/idx"), force = true)
      graft.operators.IvfIndex.delete(s, base.indexPath,
        emb.where($"vec_id" % 10 === 0).select($"vec_id"))
      graft.operators.IvfIndex.compact(s, base.indexPath)
      val model = graft.operators.IvfIndex.load(s, base.indexPath,
        "vec_id", "embedding")
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    "q_ivf_append_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val resident = emb.where($"vec_id" % 2 === 0)
      val arriving = emb.where($"vec_id" % 2 =!= 0)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_append").toString
      val base = graft.operators.IvfIndex.build(resident, "vec_id",
        "embedding", nCells = 16, maxIter = 5,
        indexDir = Some(s"$tmp/idx"))
      val model = graft.operators.IvfIndex.append(base, arriving)
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Incremental F16 maintenance: arrivals are encoded to halves and
    // land inside the existing cell layout (no retrain, no schema
    // drift); full probe over resident+appended == the f16-grid brute
    // force over the whole corpus (shares q_f16_knn's oracle).
    "q_ivf_f16_append" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val resident = emb.where($"vec_id" % 2 === 0)
      val arriving = emb.where($"vec_id" % 2 =!= 0)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_f16_append").toString
      val base = graft.operators.IvfIndex.buildWithCentroids(
        resident, "vec_id", "embedding", cents,
        indexDir = Some(s"$tmp/idx"), kind = StorageKind.F16)
      val model = graft.operators.IvfIndex.append(base, arriving)
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Vector RANGE query (the reference's `WHERE embedding <-> q < r`
    // scan): all neighbors within radius 1.5, probe-pruned, full probe
    // ⇒ exact so brute force restates it. No top-k state at all —
    // the plan is scan + filter + presentation rank. Shares the
    // memoized corpus index with the top-k faces.
    "q_vec_range" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      graft.operators.IvfIndex.rangeSearch(model,
          emb.where($"vec_id" < 5), radius = 1.5, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Parallel shard-build + merge — how a 100 TB inverted file is
    // actually constructed: the even and odd halves are indexed as
    // INDEPENDENT artifacts under one shared frozen quantizer (shard
    // builds parallelize freely), then merged with a pure data move
    // (no assignment recompute) and compacted. Full probe ⇒ exact kNN
    // over the union, so the brute-force oracle restates it.
    "q_ivf_merge_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_merge").toString
      graft.operators.IvfIndex.buildWithCentroids(
        emb.where($"vec_id" % 2 === 0), "vec_id", "embedding",
        cents, Some(s"$tmp/shard1"))
      graft.operators.IvfIndex.buildWithCentroids(
        emb.where($"vec_id" % 2 =!= 0), "vec_id", "embedding",
        cents, Some(s"$tmp/shard2"))
      graft.operators.IvfIndex.merge(s, s"$tmp/shard1",
        s"$tmp/shard2", "vec_id", "embedding")
      graft.operators.IvfIndex.compact(s, s"$tmp/shard1")
      val model = graft.operators.IvfIndex.load(s, s"$tmp/shard1",
        "vec_id", "embedding")
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Index maintenance debt paid down: build over the even half,
    // absorb the odd half (one extra file per touched cell), then
    // COMPACT — every cell rewritten to one file behind a crash-safe
    // two-rename swap — and search the compacted artifact via a fresh
    // load(). Full probe ⇒ exact kNN over the whole corpus, so the
    // same brute-force oracle restates it: compaction must change the
    // file layout and NOTHING else. IvfCompactSpec asserts the layout
    // half (files/cell drops to 1) and the crash-recovery window.
    "q_ivf_compact_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivf_compact").toString
      val base = graft.operators.IvfIndex.build(
        emb.where($"vec_id" % 2 === 0), "vec_id", "embedding",
        nCells = 16, maxIter = 5, indexDir = Some(s"$tmp/idx"))
      graft.operators.IvfIndex.append(base, emb.where($"vec_id" % 2 =!= 0))
      graft.operators.IvfIndex.compact(s, s"$tmp/idx")
      val model = graft.operators.IvfIndex.load(s, s"$tmp/idx",
        "vec_id", "embedding")
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // IVF + binary quantization under the fixed quantizer: probe 4 of
    // 16 cells, hamming-shortlist 40 over the STORED sign bits (the
    // scan reads bits, never floats — ReadSchema asserted in IvfSpec),
    // exact re-rank to top-10. Every stage is a deterministic argmin /
    // sign-count DuckDB restates, so the approximation itself is
    // hash-checked.
    "q_ivf_bq_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, kind = StorageKind.Bq)
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 4, shortlist = 40)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // F16 quantization bit patterns (the reference index server's F16
    // kind, external_index/server.rs:93-99): every element of every
    // embedding rounded to IEEE binary16, output as the raw half bits.
    // The oracle re-derives round-to-nearest-even + gradual underflow
    // in exact power-of-two double arithmetic, so the ENTIRE rounding
    // semantics is hash-checked, not just a tolerance band.
    "q_f16_quant" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .select($"vec_id", posexplode(V.fp16_encode($"embedding")))
        .toDF("vec_id", "pos", "h")
        .select($"vec_id", $"pos",
          ($"h".cast("int").bitwiseAND(lit(0xffff))).as("bits"))
        .orderBy($"vec_id", $"pos")),

    // Exact kNN over the HALF-PRECISION grid: corpus and queries both
    // rounded through binary16 (encode∘decode), then the standard
    // exact top-k. Hash-oracled end to end — the oracle rebuilds the
    // same decoded doubles and the same index-ordered distance fold.
    "q_f16_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val dec = emb.select($"vec_id",
        V.fp16_decode(V.fp16_encode($"embedding")).as("embedding"))
      Knn.topK(dec, dec.where($"vec_id" < 10), "vec_id", "embedding",
          k = 10)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // F64 distance surface (the reference index server's F64 kind):
    // vectors whose values are UNREPRESENTABLE in float32 (vec_id/3
    // etc.), served through the same codegen distance expressions
    // reading ARRAY<DOUBLE> natively. A downcasting implementation
    // would be off by ~1e-3 at these magnitudes and hash-mismatch.
    "q_f64_dist" -> ((s, dir) =>
      Tables(s, dir, "embeddings")
        .where($"vec_id" > 0)
        .selectExpr("vec_id",
          "array(CAST(vec_id AS DOUBLE)/3.0, CAST(vec_id AS DOUBLE)/7.0, " +
            "CAST(vec_id AS DOUBLE)/11.0) AS dv")
        .selectExpr("vec_id",
          "round(l2sq_dist_f64(dv, array(0.1D, 0.2D, 0.3D)), 4) AS d",
          "round(inner_product_f64(dv, array(0.5D, -1.0D, 2.0D)), 4) AS ip",
          "round(l1_dist_f64(dv, array(0.1D, 0.2D, 0.3D)), 4) AS l1d",
          "round(vector_norm_f64(dv), 4) AS nrm",
          "round(cos_dist_f64(dv, array(0.5D, -1.0D, 2.0D)), 4) AS cosd")
        .orderBy($"vec_id")),

    // Partial-probe IVF over an F16 inverted file under the FIXED
    // first-16 quantizer: the stored payload is halves (no float
    // column in the artifact), scoring is the symmetric f16 distance.
    // Assignment, probing, rounding grid, and ranking all restated.
    "q_ivf_f16_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, kind = StorageKind.F16)
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 4)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // THE storage-kind decision table, hash-checked: recall of every
    // quantization kind of the reference's index server
    // (external_index/server.rs:93-99 — F32, F16, I8, B1; F64 is
    // exact by construction) under ONE fixed coarse quantizer at
    // partial probe. Output (kind, matches-of-100): the number a 100 TB
    // deployment actually trades storage bytes against. Every kind's
    // entire pipeline — assignment, probing, its quantization grid,
    // ranking, intersection with exact truth — is restated by the
    // oracle, so the comparison itself is hash-verified.
    "q_quant_kinds" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
        .select($"qid", $"nid")
      def hits(res: DataFrame, kind: String): DataFrame =
        res.select($"qid", $"nid").join(truth, Seq("qid", "nid"))
          .agg(count(lit(1)).cast("int").as("matches"))
          .select(lit(kind).as("kind"), $"matches")
      Seq("f32", "f16", "sq8", "bq").map { kind =>
        val m = graft.operators.IvfIndex.buildWithCentroids(emb, "vec_id",
          "embedding", cents, kind = StorageKind.byName(kind))
        hits(graft.operators.IvfIndex.search(m, queries, 10, 4,
          shortlist = 40), s"ivf_$kind")
      }.reduce(_ unionAll _)
        .orderBy($"kind")
    }),

    // Partial-probe recall under a FIXED coarse quantizer (first 16
    // vectors as centroids, the q_ivfpq_adc_fixed trick): assignment,
    // probing, candidate ranking, and recall are all plain argmins
    // over the centroid table, so DuckDB restates the whole
    // approximation — the recall numbers themselves become
    // hash-checked, not rows-only. nprobe 4/16 keeps genuine misses.
    "q_ivf_recall_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val tmp = fixed16Dir(dir)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, Some(s"$tmp/idx"))
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      val approx = graft.operators.IvfIndex
        .search(model, queries, k = 10, nprobe = 4)
      Knn.recall(truth, approx, 10).orderBy($"qid")
    }),

    // Order-sensitive eval of the same fixed-quantizer partial probe:
    // MRR + binary nDCG@10 of the approximate list against exact
    // truth. Recall can't see rank displacement (a true neighbor at
    // rank 10 counts like one at rank 1); these grade the ORDER — the
    // numbers an autotune sweep should trade against latency. Same
    // deterministic setup as q_ivf_recall_fixed, so DuckDB restates
    // the whole computation including the metrics.
    "q_ann_quality" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val tmp = fixed16Dir(dir)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, Some(s"$tmp/idx"))
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      val approx = graft.operators.IvfIndex
        .search(model, queries, k = 10, nprobe = 4)
      Knn.rankQuality(truth, approx, 10).orderBy($"qid")
    }),

    // Index observability: per-cell row count / corpus share / file
    // count — the numbers that decide between compact (files) and
    // retrain+reindex (row skew). Fixed anchors make the row half
    // restatable; the file half is asserted in IvfCompactSpec.
    "q_ivf_cell_stats" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val tmp = fixed16Dir(dir)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, Some(s"$tmp/idx"))
      graft.operators.IvfIndex.cellStats(s, model)
        .select($"cell_id".cast("long").as("cell_id"), $"n_rows", $"pct")
        .orderBy($"cell_id")
    }),

    // Embedding-distribution drift between two corpus snapshots (the
    // even/odd halves standing in for last week's vs this week's
    // embedding run): per fixed anchor cell, member counts and the
    // centroid movement (cosine + L2 shift of the per-cell mean
    // vector). The monitor that tells an IVF owner when the frozen
    // coarse quantizer has drifted enough to warrant reindex — the
    // production trigger for F10. Fixed first-16 anchors make
    // assignment a plain argmin, so DuckDB restates everything.
    // Scale shape: one partial-aggregated groupBy over (cell, snap,
    // dim) — rows never shuffle whole vectors, only (cell, dim)
    // partial sums; anchors broadcast.
    "q_embedding_drift" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val assigned = emb.select(
        graft.functions.VectorFunctions
          .nearest_centroid($"embedding", cents)
          .cast("long").as("cell"),
        ($"vec_id" % 2 === 0).as("is_v1"),
        $"embedding")
      val dims = assigned.select($"cell", $"is_v1",
          posexplode($"embedding").as(Seq("pos", "v")))
        .groupBy($"cell", $"is_v1", $"pos")
        .agg(avg($"v").as("m"), count(lit(1)).as("n"))
      val v1 = dims.where($"is_v1").select($"cell", $"pos",
        $"m".as("m1"), $"n".as("n1"))
      val v2 = dims.where(!$"is_v1").select($"cell", $"pos",
        $"m".as("m2"), $"n".as("n2"))
      v1.join(v2, Seq("cell", "pos"))
        .groupBy($"cell")
        .agg(
          max($"n1").cast("long").as("n_v1"),
          max($"n2").cast("long").as("n_v2"),
          round(sum($"m1" * $"m2") /
            (sqrt(sum($"m1" * $"m1")) * sqrt(sum($"m2" * $"m2"))), 4)
            .as("cos_sim"),
          round(sqrt(sum(($"m1" - $"m2") * ($"m1" - $"m2"))), 4)
            .as("shift"))
        .orderBy($"cell")
    }),

    // SQ8-index batch absorption: the compressed index built over the
    // even half absorbs the odd half under its FROZEN scalar model and
    // centroids (out-of-range values saturate via the Sq8Encode
    // clamp), then full probe reproduces exact kNN over the
    // resident-model reconstruction of ALL rows — the oracle refits
    // min/max over the even half only and restates the clamp.
    "q_ivf_sq_append_knn" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ivfsq_append").toString
      val model = graft.operators.IvfIndex.build(
        emb.where($"vec_id" % 2 === 0), "vec_id", "embedding",
        nCells = 16, maxIter = 5, indexDir = Some(s"$tmp/idx"),
        kind = StorageKind.Sq8())
      val appended = graft.operators.IvfIndex.append(
        model, emb.where($"vec_id" % 2 =!= 0))
      graft.operators.IvfIndex.search(appended,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Streaming vector ingest replayed through the real micro-batch
    // path: resident index on the even half, the odd half arrives as
    // two batches (batch 0 deliberately processed twice — the
    // crash-replay case — proving the dynamic-overwrite idempotency
    // inside the face itself), then full probe over resident+streamed
    // ⇒ exact kNN over the whole corpus, restated by the q_knn oracle.
    "q_vec_ingest_replay" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_vec_ingest").toString
      val idx = s"$tmp/idx"
      val model0 = graft.operators.IvfIndex.build(
        emb.where($"vec_id" % 2 === 0), "vec_id", "embedding",
        nCells = 16, maxIter = 5, indexDir = Some(idx))
      val odd = emb.where($"vec_id" % 2 =!= 0)
      val b0 = odd.where($"vec_id" % 4 === 1)
      val b1 = odd.where($"vec_id" % 4 === 3)
      import graft.streaming.VectorIngestStream
      VectorIngestStream.processBatch(b0, 0L, model0.centroids,
        "vec_id", "embedding", idx)
      VectorIngestStream.processBatch(b0, 0L, model0.centroids,
        "vec_id", "embedding", idx) // crash replay
      VectorIngestStream.processBatch(b1, 1L, model0.centroids,
        "vec_id", "embedding", idx)
      val model = VectorIngestStream.openModel(s, idx, "vec_id",
        "embedding")
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 10, nprobe = 16)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // IVF partial probing: recall vs exact per query (rows-only —
    // deterministic but depends on the seeded k-means cells).
    "q_ivf_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      val approx = graft.operators.IvfIndex
        .search(model, queries, k = 10, nprobe = 4)
      Knn.recall(truth, approx, 10).orderBy($"qid")
    }),

    // IVF-PQ ADC over u8 codes, hash-oracled: codes come from the FIXED
    // codebook (first-16-vector slices, the q_pq_assign_fixed trick),
    // every cell is probed (full probe ⇒ the k-means cell layout cannot
    // change the result), and the LUT is integer-quantized
    // (lutScale=1e6 ⇒ distances are order-independent integer sums both
    // engines compute identically). The fitted-codebook ADC path stays
    // exercised by IvfSpec.
    "q_ivfpq_adc_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      val cb = PqQueries.fixedCodebook(s, dir)
      val quantized = graft.operators.ProductQuantizer.quantizeColumn(
        model.assigned, "embedding", "codes", cb)
      graft.operators.IvfIndex.searchAdc(model, quantized, "codes", cb,
        queries, k = 10, nprobe = 16, lutScale = Some(1e6))
        .select($"qid", $"nid", $"rank",
          $"dist".cast("bigint").as("dist_q"))
        .orderBy($"qid", $"rank")
    }),

    // Two-stage refine: ADC shortlist (30 deep, integer LUT, fixed
    // codebook, full probe — the q_ivfpq_adc_fixed regime, so the pool
    // is engine-independent) then exact re-rank to top-10 over the
    // original floats. Hash-oracled end to end: the oracle restates
    // shortlist AND re-rank, so the face pins the candidate handoff,
    // not just each stage alone.
    "q_ivfpq_refine_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      val cb = PqQueries.fixedCodebook(s, dir)
      val quantized = graft.operators.ProductQuantizer.quantizeColumn(
        model.assigned, "embedding", "codes", cb)
      graft.operators.IvfIndex.searchAdcRefine(model, quantized, "codes",
        cb, queries, k = 10, nprobe = 16, shortlist = 30,
        lutScale = Some(1e6))
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Filtered ANN at the INDEX level: the same metadata predicate
    // applied inside the probed-cell scan (data filter next to the
    // cell PartitionFilter), full probe ⇒ identical to the brute
    // filtered search, so the q_knn_filtered oracle restates it.
    "q_ivf_knn_filtered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.IvfIndex.build(
        emb, "vec_id", "embedding", nCells = 16, maxIter = 5)
      graft.operators.IvfIndex.search(model,
          emb.where($"vec_id" < 10), k = 5, nprobe = 16,
          filter = Some($"label" === 3))
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // Filtered kNN — the vector-db staple (metadata predicate + vector
    // order): search only the corpus slice satisfying `label = 3`. The
    // filter precedes the search, so the predicate pushes down to the
    // parquet scan and the distance loop never touches pruned rows.
    "q_knn_filtered" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val corpus = emb.where($"label" === 3)
      Knn.topK(corpus, queries, "vec_id", "embedding", k = 5)
        .select($"qid", $"nid", $"rank", round($"dist", 4).as("dist"))
        .orderBy($"qid", $"rank")
    }),

    // kNN-graph construction: each node's 3 nearest OTHER nodes within
    // its slice — the SemDeDup/clustering primitive. Exact top-(k+1)
    // then self dropped and ranks renumbered; at corpus scale the same
    // query set feeds IvfIndex.search so probed cells prune the scan.
    "q_knn_graph" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val sub = emb.where($"label" === 0)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"rank")
      Knn.topK(sub, sub, "vec_id", "embedding", k = 4)
        .where($"nid" =!= $"qid")
        .select($"qid", $"nid", row_number().over(w).as("rnk"),
          round($"dist", 4).as("dist"))
        .where($"rnk" <= 3)
        .orderBy($"qid", $"rnk")
    }),

    // X4-X9: the autotune sweep's RECALL axis as a hash-checked face —
    // the full grid enumeration (targetRecall > 100 disables the
    // early-stop) with only the deterministic columns kept. The exact
    // top-k path recovers all of truth, so every variant reports 100;
    // the wall-clock axes (latency, build time) stay graded by
    // AutotuneSpec's bounds, and the full schema remains available via
    // Autotune.toDF — splitting them out is what lets this face carry
    // a bit-exact oracle instead of a rows-only check.
    "q_autotune" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val res = graft.operators.Autotune.run(emb, "vec_id", "embedding",
        k = 10, sampleN = 2000, nQueries = 10, targetRecall = 101.0)
      graft.operators.Autotune.toDF(s, res)
        .select($"experiment_id", $"m", $"efc", $"ef",
          $"recall".cast("int").as("recall_pct"))
        .orderBy($"experiment_id")
    }),

    // The IVF sweep's recall axis under the frozen 16-anchor coarse
    // quantizer (q_ivf_recall_fixed's trick lifted to the whole probe
    // grid): per nprobe, the integer count of exact-top-10 hits the
    // partial probe recovers across the 10 query points — assignment,
    // probing, ranking and the count all restate as argmins in
    // DuckDB.
    "q_autotune_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      graft.operators.Autotune.ivfRecallGrid(emb,
          emb.where($"vec_id" < 10), "vec_id", "embedding", cents)
        .orderBy($"experiment_id")
    }),

    // The BQ sweep's recall axis, frozen quantizer: the published
    // (nprobe, shortlist) grid, each variant's two-stage search
    // (hamming shortlist → exact rescore) intersected with exact
    // truth — the q_bq_recall_fixed restatement generalized over the
    // grid.
    "q_autotune_bq" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      graft.operators.Autotune.bqRecallGrid(emb,
          emb.where($"vec_id" < 10), "vec_id", "embedding", cents)
        .orderBy($"experiment_id")
    }),

    // The storage-kind sweep's recall axis under ONE frozen shared
    // quantizer: the full kind × nprobe grid (q_quant_kinds
    // generalized to both probe depths, keyed by experiment id).
    "q_autotune_kinds" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      graft.operators.Autotune.kindsRecallGrid(emb,
          emb.where($"vec_id" < 10), "vec_id", "embedding", cents)
        .orderBy($"experiment_id")
    }),

    // kNN-graph via the IVF index — the SCALE path for graph
    // construction the brute-force q_knn_graph documents: queries are
    // the slice itself, cells prune the scan per probe batch. Full
    // probe here so the exact-graph oracle applies (as q_ivf_knn);
    // production drops nprobe for the recall/cost trade.
    "q_knn_graph_ivf" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val sub = emb.where($"label" === 0)
      val model = graft.operators.IvfIndex.build(
        sub, "vec_id", "embedding", nCells = 8, maxIter = 5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"rank")
      graft.operators.IvfIndex.search(model, sub, k = 4, nprobe = 8)
        .where($"nid" =!= $"qid")
        .select($"qid", $"nid", row_number().over(w).as("rnk"),
          round($"dist", 4).as("dist"))
        .where($"rnk" <= 3)
        .orderBy($"qid", $"rnk")
    }),

    // SemDeDup (embedding-cluster dedup): nearest-anchor clustering
    // (anchors = vec_id < 8, the bounded "centroid model") then
    // within-cluster cosine near-dup removal at eps=0.55. Assignment
    // is a shuffle-free projection; the only exchange is the
    // per-cluster self-join.
    "q_semdedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      graft.operators.Dedup.semDedup(emb, "vec_id", "embedding",
        anchors = emb.where($"vec_id" < 8), "vec_id", "embedding",
        eps = 0.55)
        .withColumnRenamed("id", "vec_id")
        .orderBy($"vec_id")
    }),

    // Recall of kNN-over-SQ8-codes vs exact float kNN — quantifies the
    // compression/recall trade the operator exists for. Fully oracled:
    // unlike the IVF twin there is no k-means anywhere, so DuckDB
    // restates fit → code → decode → both rankings → recall exactly.
    "q_sq_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val model = graft.operators.ScalarQuantizer.fit(emb, "embedding")
      val codes = graft.operators.ScalarQuantizer.quantize(
        emb.select($"vec_id", $"embedding"), "embedding", "sq", model)
        .select($"vec_id", $"sq")
      val rec = graft.operators.ScalarQuantizer.dequantize(
        codes, "sq", "vhat", model).select($"vec_id", $"vhat")
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      val approx = Knn.topK(rec,
        queries.select($"vec_id", $"embedding".as("vhat")),
        "vec_id", "vhat", 10)
      Knn.recall(truth, approx, 10).orderBy($"qid")
    }),

    // Recall@10 of the two-stage BQ path under the fixed quantizer
    // (nprobe 4/16, shortlist 40 — genuine misses from BOTH cuts):
    // like q_ivf_recall_fixed, the approximation is deterministic, so
    // the recall numbers themselves are hash-checked, not rows-only.
    "q_bq_recall_fixed" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cents = anchors16(emb)
      val model = graft.operators.IvfIndex.buildWithCentroids(
        emb, "vec_id", "embedding", cents, kind = StorageKind.Bq)
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10)
      val approx = graft.operators.IvfIndex.search(model,
        queries, k = 10, nprobe = 4, shortlist = 40)
      Knn.recall(truth, approx, 10).orderBy($"qid")
    }),

    // Contrastive triplet mining — the training-data op for embedding
    // models: per anchor, the HARDEST positive (farthest same-label
    // neighbor would be "hard positive"; here the nearest, the
    // standard easy-positive/hard-negative recipe) and the hardest
    // negative (nearest different-label). Ranked over the full corpus
    // with (dist, nid) ties, so DuckDB restates it exactly.
    "q_triplet_mine" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val anchors = broadcast(emb.where($"vec_id" < 10)
        .select($"vec_id".as("qid"), $"embedding".as("qv"),
          $"label".as("qlabel")))
      val scored = emb.crossJoin(anchors)
        .where($"vec_id" =!= $"qid")
        .select($"qid", $"qlabel", $"vec_id".as("nid"), $"label",
          graft.functions.VectorFunctions
            .l2sq_dist($"embedding", $"qv").as("d"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"d", $"nid")
      def top1(df: DataFrame, idOut: String, dOut: String) =
        df.withColumn("rn", row_number().over(w)).where($"rn" === 1)
          .select($"qid", $"nid".as(idOut), round($"d", 4).as(dOut))
      top1(scored.where($"label" === $"qlabel"), "pos_id", "pos_dist")
        .join(top1(scored.where($"label" =!= $"qlabel"),
          "neg_id", "neg_dist"), Seq("qid"))
        .orderBy($"qid")
    }),

    // MMR-diversified retrieval: exact top-20 re-ranked to 10 by
    // maximal marginal relevance (λ=0.5). Rows-only: greedy
    // SEQUENTIAL selection (each pick depends on all previous picks)
    // is not restatable as SQL, the same class as k-means;
    // KnnSpec pins the semantics on planted geometry.
    "q_mmr_rerank" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val top = Knn.topK(emb, queries, "vec_id", "embedding", 20)
      Knn.mmrRerank(top, emb, "vec_id", "embedding",
          lambda = 0.5, m = 10)
        .select($"qid", $"nid", $"mmr_rank",
          round($"mmr_score", 4).as("mmr_score"))
        .orderBy($"qid", $"mmr_rank")
    }),

    // MMR at m=2 runs the SAME greedy code path but the selection
    // unrolls into two window ranks, so DuckDB restates it — the
    // q_pq_assign_fixed move applied to the re-ranker: the scoring
    // math (λ·(−d) − (1−λ)·max(0, cos_sim)) is hash-checked even
    // though the general sequential loop is not SQL-expressible.
    "q_mmr_pair" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val top = Knn.topK(emb, queries, "vec_id", "embedding", 20)
      Knn.mmrRerank(top, emb, "vec_id", "embedding",
          lambda = 0.5, m = 2)
        .select($"qid", $"nid", $"mmr_rank",
          (floor($"mmr_score" * 10000 + 0.5) / 10000).as("mmr_score"))
        .orderBy($"qid", $"mmr_rank")
    }),

    // MMR at m=3: one more greedy step than q_mmr_pair — the third
    // pick's redundancy term maxes over TWO picked vectors
    // (max(0, max(cos(v,p1), cos(v,p2)))), the arithmetic that
    // separates true MMR from simple re-ranking and that the m=2 face
    // cannot distinguish. Still window-expressible, so DuckDB
    // restates all three unrolled selections.
    "q_mmr_triple" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val top = Knn.topK(emb, queries, "vec_id", "embedding", 20)
      Knn.mmrRerank(top, emb, "vec_id", "embedding",
          lambda = 0.5, m = 3)
        .select($"qid", $"nid", $"mmr_rank",
          (floor($"mmr_score" * 10000 + 0.5) / 10000).as("mmr_score"))
        .orderBy($"qid", $"mmr_rank")
    }),

    // J4/X7: recall of cos-metric kNN against l2sq ground truth.
    "q_knn_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val queries = emb.where($"vec_id" < 10)
      val truth = Knn.topK(emb, queries, "vec_id", "embedding", 10, "l2sq")
      val result = Knn.topK(emb, queries, "vec_id", "embedding", 10, "cos")
      Knn.recall(truth, result, 10).orderBy($"qid")
    })
  )

  // brute filtered search; shared by q_knn_filtered and the
  // index-level q_ivf_knn_filtered (full probe + scan filter ≡ it)
  private lazy val oracleSqlKnnFiltered: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id, embedding FROM embeddings WHERE label = 3),
       |scored AS (
       |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.embedding", "q.qe")} AS d
       |  FROM c, q),
       |ranked AS (
       |  SELECT qid, nid, d,
       |         row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
       |  FROM scored)
       |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
       |FROM ranked WHERE rk <= 5 ORDER BY qid, rank""".stripMargin

  private lazy val knnOracle: String =
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.embedding", "q.qe")} AS d
       |  FROM embeddings c, q),
       |ranked AS (
       |  SELECT qid, nid, d,
       |         row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
       |  FROM scored)
       |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
       |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin

  /** IEEE binary16 round-to-nearest-even restated in EXACT arithmetic
    * — every step is integer or power-of-two double math, so the
    * DuckDB result is bit-identical to [[graft.functions.Fp16]]:
    * binade extraction by comparison against an exact 2^e table (no
    * log2, whose rounding could misplace binade boundaries), mantissa
    * scaling q = |x|/2^e*1024 (exact: float32 inputs have <= 24
    * significant bits), half-even via floor/fraction/parity, and the
    * mantissa->exponent carry falling out of one bits formula.
    * Subnormals (|x| < 2^-14, present in the embeddings table) take
    * q = |x|*2^24 with the same rounding; values >= 65520 would
    * overflow to Inf, unreachable for this data (|x| < 1). Yields
    * f16el(vec_id, pos, bits, dv): the half bit pattern and the
    * decoded double.
    */
  private lazy val f16Cte: String =
    """el AS (
      |  SELECT vec_id, CAST(unnest(range(0, len(embedding))) AS INT)
      |    AS pos, CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |bnd AS (
      |  SELECT CAST(e AS INT) AS e,
      |    CASE WHEN e >= 0 THEN CAST(1 << e AS DOUBLE)
      |         ELSE 1.0 / CAST(1 << (-e) AS DOUBLE) END AS lo
      |  FROM range(-14, 16) t(e)),
      |f16q AS (
      |  SELECT el.vec_id, el.pos, el.x,
      |    CASE WHEN el.x < 0 THEN 32768 ELSE 0 END AS sb,
      |    coalesce(bnd.e, -15) AS e, coalesce(bnd.lo, 0) AS lo,
      |    CASE WHEN bnd.e IS NULL THEN abs(el.x) * 16777216.0
      |         ELSE abs(el.x) / bnd.lo * 1024.0 END AS q
      |  FROM el LEFT JOIN bnd
      |    ON abs(el.x) >= bnd.lo AND abs(el.x) < 2 * bnd.lo),
      |f16r AS (
      |  SELECT vec_id, pos, x, sb, e, lo,
      |    CAST(floor(q) AS BIGINT) + (CASE
      |      WHEN q - floor(q) > 0.5 THEN 1
      |      WHEN q - floor(q) < 0.5 THEN 0
      |      ELSE CAST(floor(q) AS BIGINT) % 2 END) AS qr
      |  FROM f16q),
      |f16el AS (
      |  SELECT vec_id, pos,
      |    CAST(sb + CASE WHEN e = -15 THEN qr
      |         ELSE (e + 15) * 1024 + (qr - 1024) END AS INT) AS bits,
      |    (CASE WHEN x < 0 THEN -1.0 ELSE 1.0 END) *
      |    (CASE WHEN e = -15 THEN qr / 16777216.0
      |          ELSE qr * lo / 1024.0 END) AS dv
      |  FROM f16r),
      |f16dl AS (
      |  SELECT vec_id, list(dv ORDER BY pos) AS de
      |  FROM f16el GROUP BY vec_id)""".stripMargin

  private lazy val knnGraphOracle: String =
    s"""WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE label = 0),
       |scored AS (
       |  SELECT a.vec_id AS qid, b.vec_id AS nid,
       |         ${dkL2sq("b.embedding", "a.embedding")} AS d
       |  FROM s a, s b WHERE b.vec_id != a.vec_id),
       |ranked AS (
       |  SELECT qid, nid, d,
       |         row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
       |  FROM scored)
       |SELECT qid, nid, CAST(rk AS INT) AS rnk, round(d, 4) AS dist
       |FROM ranked WHERE rk <= 3 ORDER BY qid, rnk""".stripMargin

  // fit → code → decode restatement shared by q_sq_knn, q_ivf_sq_knn
  // and q_sq_recall; mirrors ScalarQuantizer op order exactly.
  private lazy val sqRecCte: String =
    s"""x AS (
         |  SELECT vec_id, CAST(unnest(range(0, len(embedding))) AS INT)
         |    AS pos, unnest(embedding) AS v
         |  FROM embeddings),
         |m AS (
         |  SELECT pos, min(CAST(v AS DOUBLE)) AS mn,
         |    max(CAST(v AS DOUBLE)) AS mx
         |  FROM x GROUP BY pos),
         |codes AS (
         |  SELECT x.vec_id, x.pos, m.mn, m.mx,
         |    CASE WHEN m.mx > m.mn
         |      THEN floor((CAST(x.v AS DOUBLE) - m.mn) * 255
         |        / (m.mx - m.mn) + 0.5)
         |      ELSE 0 END AS code
         |  FROM x JOIN m ON m.pos = x.pos),
         |rec AS (
         |  SELECT vec_id,
         |    list(CAST(mn + code / 255 * (mx - mn) AS REAL)
         |      ORDER BY pos) AS vhat
         |  FROM codes GROUP BY vec_id)""".stripMargin

  // shared by q_sq_knn and q_ivf_sq_knn (full probe == brute
  // force over the dequantized corpus)
  private lazy val sqKnnOracle: String =
    s"""WITH $sqRecCte,
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.vhat", "q.qe")} AS d
         |  FROM rec c, q),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // full restatement of semDedup: nearest-anchor assignment via a
    // row_number window ordered by (cos_dist, anchor id) — the same
    // total order as the Spark side's array_min over (d, aid) structs —
    // then within-cluster pair drop at the same eps
    "q_semdedup" ->
      s"""WITH anch AS (
         |  SELECT vec_id AS aid, embedding AS av FROM embeddings
         |  WHERE vec_id < 8),
         |asg AS (
         |  SELECT vec_id, aid AS cluster, v FROM (
         |    SELECT e.vec_id, a.aid, e.embedding AS v,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dkCos("e.embedding", "a.av")}, a.aid) AS rk
         |    FROM embeddings e CROSS JOIN anch a) _x
         |  WHERE rk = 1),
         |drp AS (
         |  SELECT DISTINCT b.vec_id FROM asg x JOIN asg b
         |  ON x.cluster = b.cluster AND x.vec_id < b.vec_id
         |  WHERE ${dkCos("x.v", "b.v")} <= 0.55)
         |SELECT asg.vec_id, asg.cluster,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
         |FROM asg LEFT JOIN drp d ON asg.vec_id = d.vec_id
         |ORDER BY asg.vec_id""".stripMargin,
    "q_sign_hamming" ->
      """WITH sg AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END) AS sgn
        |  FROM embeddings),
        |a AS (SELECT sgn AS asgn FROM sg WHERE vec_id = 0)
        |SELECT sg.vec_id,
        |  CAST(list_sum(list_transform(range(1, len(sg.sgn)+1),
        |    i -> CASE WHEN sg.sgn[i] != a.asgn[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hd
        |FROM sg, a ORDER BY sg.vec_id""".stripMargin,
    // B1 restatement: packed-word hamming == sign-disagreement count
    // over same-dim vectors, so the oracle counts disagreements
    // directly; shortlist and re-rank are the same (score, id) orders
    // the bounded aggregates use
    "q_bq_knn" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |  WHERE vec_id < 10),
         |ham AS (
         |  SELECT q.qid, e.vec_id AS nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM embeddings e CROSS JOIN q),
         |sl AS (
         |  SELECT qid, nid FROM (
         |    SELECT qid, nid,
         |      row_number() OVER (PARTITION BY qid ORDER BY hd, nid)
         |        AS rn
         |    FROM ham) _s WHERE rn <= 40),
         |rr AS (
         |  SELECT sl.qid, sl.nid,
         |    ${dkL2sq("e.embedding", "q.qv")} AS d
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM rr)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // matryoshka restatement: the truncated metric is the same l2 fold
    // over the 16-element list slice
    "q_mrl_knn" ->
      s"""WITH t AS (
         |  SELECT vec_id, embedding, embedding[1:16] AS tv
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id AS qid, embedding AS qv, embedding[1:16] AS qtv
         |  FROM embeddings WHERE vec_id < 10),
         |sl AS (
         |  SELECT qid, nid FROM (
         |    SELECT q.qid, t.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY ${dkL2sq("t.tv", "q.qtv")}, t.vec_id) AS rn
         |    FROM t CROSS JOIN q) _s WHERE rn <= 40),
         |rr AS (
         |  SELECT sl.qid, sl.nid,
         |    ${dkL2sq("e.embedding", "q.qv")} AS d
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM rr)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // full IVF-BQ restatement under the fixed quantizer: probed cells
    // and cell assignment are argmins over the 16 fixed centroids,
    // the compressed metric is a sign-disagreement count, and both
    // cut-offs are the same (score, id) orders the bounded aggregates
    // use — the approximation pipeline is hash-checked end to end
    "q_ivf_bq_fixed" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |            FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |ham AS (
         |  SELECT pr.qid, a.vec_id AS nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM pr JOIN asg a ON a.cell = pr.cell
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN q ON q.qid = pr.qid),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY hd, nid) AS rn
         |  FROM ham) _s WHERE rn <= 40),
         |rr AS (
         |  SELECT sl.qid, sl.nid, ${dkL2sq("e.embedding", "q.qv")} AS d
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM rr)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    "q_f16_quant" ->
      s"""WITH $f16Cte
         |SELECT vec_id, pos, bits FROM f16el
         |ORDER BY vec_id, pos""".stripMargin,
    // all folds restated with the same left-associated double
    // arithmetic the codegen loops produce (acc starts at 0.0, index
    // order), so every column is bit-identical before the 4-dp round
    "q_f64_dist" ->
      """WITH dv AS (
        |  SELECT vec_id, vec_id/3.0 AS x1, vec_id/7.0 AS x2,
        |    vec_id/11.0 AS x3
        |  FROM embeddings WHERE vec_id > 0)
        |SELECT vec_id,
        |  round((x1-0.1)^2 + (x2-0.2)^2 + (x3-0.3)^2, 4) AS d,
        |  round(x1*0.5 + x2*(-1.0) + x3*2.0, 4) AS ip,
        |  round(abs(x1-0.1) + abs(x2-0.2) + abs(x3-0.3), 4) AS l1d,
        |  round(sqrt(x1*x1 + x2*x2 + x3*x3), 4) AS nrm,
        |  round(1 - (x1*0.5 + x2*(-1.0) + x3*2.0) /
        |    sqrt((x1*x1 + x2*x2 + x3*x3) *
        |         (0.5*0.5 + (-1.0)*(-1.0) + 2.0*2.0)), 4) AS cosd
        |FROM dv ORDER BY vec_id""".stripMargin,
    // append face: at full probe the union of resident+appended halves
    // IS the f16-grid brute force — identical oracle to q_f16_knn
    "q_ivf_f16_append" ->
      s"""WITH $f16Cte,
         |q AS (SELECT vec_id AS qid, de AS qe FROM f16dl
         |      WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.de", "q.qe")} AS d
         |  FROM f16dl c, q),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    "q_f16_knn" ->
      s"""WITH $f16Cte,
         |q AS (SELECT vec_id AS qid, de AS qe FROM f16dl
         |      WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.de", "q.qe")} AS d
         |  FROM f16dl c, q),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // assignment + probing argmins run on the ORIGINAL floats (the
    // build/probe path never quantizes the quantizer); only the stored
    // payload and the query are rounded through the f16 grid
    "q_ivf_f16_fixed" ->
      s"""WITH $f16Cte,
         |cb AS (SELECT vec_id AS cid, embedding AS cv
         |       FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |scored AS (
         |  SELECT pr.qid, a.vec_id AS nid,
         |    ${dkL2sq("c.de", "qd.de")} AS d
         |  FROM pr JOIN asg a ON a.cell = pr.cell
         |  JOIN f16dl c ON c.vec_id = a.vec_id
         |  JOIN f16dl qd ON qd.vec_id = pr.qid),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // every kind's full pipeline restated over ONE shared probe set
    // and assignment (both argmins over original floats): f32 exact
    // candidates, f16 symmetric decoded grid, sq8 asymmetric decode,
    // bq hamming-shortlist-40 + exact rescore — each cut to top-10 and
    // intersected with the exact truth
    "q_quant_kinds" ->
      s"""WITH $f16Cte,
         |$sqRecCte,
         |cb AS (SELECT vec_id AS cid, embedding AS cv
         |       FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |truth AS (SELECT qid, nid FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qv")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _t WHERE rk <= 10),
         |cand AS (SELECT pr.qid, a.vec_id AS nid
         |         FROM pr JOIN asg a ON a.cell = pr.cell),
         |kf32 AS (SELECT qid, nid FROM (
         |  SELECT cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, cand.nid) AS rk
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid) _f WHERE rk <= 10),
         |kf16 AS (SELECT qid, nid FROM (
         |  SELECT cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY ${dkL2sq("c.de", "qd.de")}, cand.nid) AS rk
         |  FROM cand JOIN f16dl c ON c.vec_id = cand.nid
         |  JOIN f16dl qd ON qd.vec_id = cand.qid) _h WHERE rk <= 10),
         |ksq8 AS (SELECT qid, nid FROM (
         |  SELECT cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.qid
         |      ORDER BY ${dkL2sq("r.vhat", "q.qv")}, cand.nid) AS rk
         |  FROM cand JOIN rec r ON r.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid) _s8 WHERE rk <= 10),
         |ham AS (
         |  SELECT cand.qid, cand.nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY hd, nid) AS rn
         |  FROM ham) _sl WHERE rn <= 40),
         |kbq AS (SELECT qid, nid FROM (
         |  SELECT sl.qid, sl.nid,
         |    row_number() OVER (PARTITION BY sl.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, sl.nid) AS rk
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid) _b WHERE rk <= 10)
         |SELECT kind, matches FROM (
         |  SELECT 'ivf_f32' AS kind, CAST(count(*) AS INT) AS matches
         |    FROM kf32 JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'ivf_f16', CAST(count(*) AS INT)
         |    FROM kf16 JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'ivf_sq8', CAST(count(*) AS INT)
         |    FROM ksq8 JOIN truth USING (qid, nid)
         |  UNION ALL SELECT 'ivf_bq', CAST(count(*) AS INT)
         |    FROM kbq JOIN truth USING (qid, nid)
         |) _u ORDER BY kind""".stripMargin,
    // the exact-path sweep recovers all of truth for every published
    // grid variant by construction — the oracle IS that invariant,
    // and any sampling/truth-join/recall regression breaks the hash
    "q_autotune" ->
      """SELECT * FROM (VALUES
        |  (0, 6, 32, 64, 100), (1, 8, 40, 64, 100),
        |  (2, 12, 48, 64, 100), (3, 16, 60, 76, 100),
        |  (4, 32, 96, 96, 100), (5, 48, 128, 128, 100))
        |  AS t(experiment_id, m, efc, ef, recall_pct)
        |ORDER BY experiment_id""".stripMargin,
    // q_ivf_recall_fixed generalized over the probe grid: per nprobe
    // variant, candidates from the rn <= np probed cells, exact-rank
    // top-10, counted against exact truth
    "q_autotune_ivf" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |            FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |v AS (SELECT * FROM (VALUES (0, 1), (1, 2), (2, 4), (3, 8),
         |      (4, 16)) t(eid, np)),
         |prall AS (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |cand AS (SELECT v.eid, p.qid, a.vec_id AS nid
         |  FROM v JOIN prall p ON p.rn <= v.np
         |  JOIN asg a ON a.cell = p.cell),
         |appr AS (SELECT eid, qid, nid FROM (
         |  SELECT c.eid, c.qid, c.nid,
         |    row_number() OVER (PARTITION BY c.eid, c.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, c.nid) AS rk
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.nid
         |  JOIN q ON q.qid = c.qid) _r WHERE rk <= 10),
         |ex AS (SELECT qid, nid FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qv")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _e WHERE rk <= 10),
         |hits AS (SELECT a.eid, count(*) AS m
         |  FROM appr a JOIN ex USING (qid, nid) GROUP BY a.eid)
         |SELECT v.eid AS experiment_id, 16 AS n_cells, v.np AS nprobe,
         |  CAST(coalesce(hits.m, 0) AS INT) AS matches
         |FROM v LEFT JOIN hits ON hits.eid = v.eid
         |ORDER BY experiment_id""".stripMargin,
    // q_bq_recall_fixed generalized over the (nprobe, shortlist)
    // grid: hamming over sign bits once per (query, vector), per
    // variant the rn <= np candidate pool cut to its shortlist, exact
    // rescore to top-10, counted against exact truth
    "q_autotune_bq" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |            FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |v AS (SELECT * FROM (VALUES (0, 2, 20), (1, 2, 50),
         |      (2, 4, 20), (3, 4, 50), (4, 8, 50), (5, 16, 100))
         |      t(eid, np, sl)),
         |prall AS (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |ham AS (SELECT q.qid, e.vec_id AS nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM q CROSS JOIN embeddings e),
         |cand AS (SELECT v.eid, v.sl, p.qid, a.vec_id AS nid
         |  FROM v JOIN prall p ON p.rn <= v.np
         |  JOIN asg a ON a.cell = p.cell),
         |slr AS (SELECT eid, qid, nid FROM (
         |  SELECT c.eid, c.sl, c.qid, c.nid,
         |    row_number() OVER (PARTITION BY c.eid, c.qid
         |      ORDER BY h.hd, c.nid) AS rn
         |  FROM cand c JOIN ham h
         |    ON h.qid = c.qid AND h.nid = c.nid) _s WHERE rn <= sl),
         |ap AS (SELECT eid, qid, nid FROM (
         |  SELECT s.eid, s.qid, s.nid,
         |    row_number() OVER (PARTITION BY s.eid, s.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, s.nid) AS rk
         |  FROM slr s JOIN embeddings e ON e.vec_id = s.nid
         |  JOIN q ON q.qid = s.qid) _r WHERE rk <= 10),
         |ex AS (SELECT qid, nid FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qv")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _e WHERE rk <= 10),
         |hits AS (SELECT a.eid, count(*) AS m
         |  FROM ap a JOIN ex USING (qid, nid) GROUP BY a.eid)
         |SELECT v.eid AS experiment_id, v.np AS nprobe,
         |  v.sl AS shortlist, CAST(coalesce(hits.m, 0) AS INT)
         |    AS matches
         |FROM v LEFT JOIN hits ON hits.eid = v.eid
         |ORDER BY experiment_id""".stripMargin,
    // q_quant_kinds generalized to both probe depths of the kind
    // sweep, keyed by experiment id (kind-major, nprobe-minor order
    // matching Autotune.kindGrid)
    "q_autotune_kinds" ->
      s"""WITH $f16Cte,
         |$sqRecCte,
         |cb AS (SELECT vec_id AS cid, embedding AS cv
         |       FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |prall AS (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |truth AS (SELECT qid, nid FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qv")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _t WHERE rk <= 10),
         |cand AS (SELECT v.np, p.qid, a.vec_id AS nid
         |  FROM (SELECT * FROM (VALUES (4), (16)) t(np)) v
         |  JOIN prall p ON p.rn <= v.np
         |  JOIN asg a ON a.cell = p.cell),
         |kf32 AS (SELECT np, qid, nid FROM (
         |  SELECT cand.np, cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.np, cand.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, cand.nid) AS rk
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid) _f WHERE rk <= 10),
         |kf16 AS (SELECT np, qid, nid FROM (
         |  SELECT cand.np, cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.np, cand.qid
         |      ORDER BY ${dkL2sq("c.de", "qd.de")}, cand.nid) AS rk
         |  FROM cand JOIN f16dl c ON c.vec_id = cand.nid
         |  JOIN f16dl qd ON qd.vec_id = cand.qid) _h WHERE rk <= 10),
         |ksq8 AS (SELECT np, qid, nid FROM (
         |  SELECT cand.np, cand.qid, cand.nid,
         |    row_number() OVER (PARTITION BY cand.np, cand.qid
         |      ORDER BY ${dkL2sq("r.vhat", "q.qv")}, cand.nid) AS rk
         |  FROM cand JOIN rec r ON r.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid) _s8 WHERE rk <= 10),
         |ham AS (
         |  SELECT cand.np, cand.qid, cand.nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM cand JOIN embeddings e ON e.vec_id = cand.nid
         |  JOIN q ON q.qid = cand.qid),
         |sl AS (SELECT np, qid, nid FROM (
         |  SELECT np, qid, nid,
         |    row_number() OVER (PARTITION BY np, qid
         |      ORDER BY hd, nid) AS rn
         |  FROM ham) _sl WHERE rn <= 40),
         |kbq AS (SELECT np, qid, nid FROM (
         |  SELECT sl.np, sl.qid, sl.nid,
         |    row_number() OVER (PARTITION BY sl.np, sl.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, sl.nid) AS rk
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid) _b WHERE rk <= 10)
         |SELECT experiment_id, kind, nprobe, matches FROM (
         |  SELECT 0 AS experiment_id, 'f32' AS kind, 4 AS nprobe,
         |    CAST((SELECT count(*) FROM kf32 JOIN truth
         |      USING (qid, nid) WHERE np = 4) AS INT) AS matches
         |  UNION ALL SELECT 1, 'f32', 16,
         |    CAST((SELECT count(*) FROM kf32 JOIN truth
         |      USING (qid, nid) WHERE np = 16) AS INT)
         |  UNION ALL SELECT 2, 'f16', 4,
         |    CAST((SELECT count(*) FROM kf16 JOIN truth
         |      USING (qid, nid) WHERE np = 4) AS INT)
         |  UNION ALL SELECT 3, 'f16', 16,
         |    CAST((SELECT count(*) FROM kf16 JOIN truth
         |      USING (qid, nid) WHERE np = 16) AS INT)
         |  UNION ALL SELECT 4, 'sq8', 4,
         |    CAST((SELECT count(*) FROM ksq8 JOIN truth
         |      USING (qid, nid) WHERE np = 4) AS INT)
         |  UNION ALL SELECT 5, 'sq8', 16,
         |    CAST((SELECT count(*) FROM ksq8 JOIN truth
         |      USING (qid, nid) WHERE np = 16) AS INT)
         |  UNION ALL SELECT 6, 'bq', 4,
         |    CAST((SELECT count(*) FROM kbq JOIN truth
         |      USING (qid, nid) WHERE np = 4) AS INT)
         |  UNION ALL SELECT 7, 'bq', 16,
         |    CAST((SELECT count(*) FROM kbq JOIN truth
         |      USING (qid, nid) WHERE np = 16) AS INT)
         |) _u ORDER BY experiment_id""".stripMargin,
    // recall of the deterministic BQ approximation: the q_ivf_bq_fixed
    // pipeline cut to top-10, intersected with exact top-10 per query
    "q_bq_recall_fixed" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |            FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qv", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |ham AS (
         |  SELECT pr.qid, a.vec_id AS nid,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qv[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM pr JOIN asg a ON a.cell = pr.cell
         |  JOIN embeddings e ON e.vec_id = a.vec_id
         |  JOIN q ON q.qid = pr.qid),
         |sl AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY hd, nid) AS rn
         |  FROM ham) _s WHERE rn <= 40),
         |ap AS (SELECT qid, nid FROM (
         |  SELECT sl.qid, sl.nid,
         |    row_number() OVER (PARTITION BY sl.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qv")}, sl.nid) AS rk
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.nid
         |  JOIN q ON q.qid = sl.qid) _r WHERE rk <= 10),
         |ex AS (SELECT qid, nid FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qv")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _e WHERE rk <= 10)
         |SELECT ex.qid, CAST(count(ap.nid) AS DOUBLE) / 10 AS recall
         |FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.nid = ap.nid
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin,
    "q_ivf_knn" -> knnOracle,
    // the rewrite is exact under full probe: brute-force top-50 to the
    // vec_id=0 anchor, tie-broken by (d, vec_id) like topk_by_score
    "q_indexed_knn" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT c.vec_id, ${dkL2sq("c.embedding", "q.qe")} AS d
         |  FROM embeddings c, q),
         |ranked AS (
         |  SELECT vec_id, d,
         |         row_number() OVER (ORDER BY d, vec_id) AS rk
         |  FROM scored)
         |SELECT vec_id, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 50 ORDER BY dist, vec_id""".stripMargin,
    // approximate rewrite under the fixed quantizer: probe the 4
    // nearest of the 16 fixed centroids, rank candidates from probed
    // cells only — every step a deterministic argmin DuckDB restates
    "q_indexed_knn_probe" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pr AS (SELECT cell FROM (
         |  SELECT cb.cid AS cell,
         |    row_number() OVER (ORDER BY ${dkL2sq("q.qe", "cb.cv")},
         |      cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |cand AS (SELECT a.vec_id FROM asg a JOIN pr ON a.cell = pr.cell),
         |ranked AS (
         |  SELECT c.vec_id, ${dkL2sq("e.embedding", "q.qe")} AS d,
         |    row_number() OVER (ORDER BY ${dkL2sq("e.embedding", "q.qe")},
         |      c.vec_id) AS rk
         |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
         |  CROSS JOIN q)
         |SELECT vec_id, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 20 ORDER BY dist, vec_id""".stripMargin,
    // payload fetch-back at full probe == brute force with the label
    // carried along
    "q_indexed_payload" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |scored AS (
         |  SELECT c.vec_id, c.label, ${dkL2sq("c.embedding", "q.qe")} AS d
         |  FROM embeddings c, q),
         |ranked AS (
         |  SELECT vec_id, label, d,
         |         row_number() OVER (ORDER BY d, vec_id) AS rk
         |  FROM scored)
         |SELECT vec_id, label, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 20 ORDER BY dist, vec_id""".stripMargin,
    // planner-BQ restatement: probed cells and assignment as in the
    // probe face, then the hamming shortlist cut before the exact
    // re-rank — the planted two-stage plan is hash-checked end to end
    "q_indexed_f16" ->
      s"""WITH $f16Cte,
         |cb AS (SELECT vec_id AS cid, embedding AS cv
         |       FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |q16 AS (SELECT de AS qe FROM f16dl WHERE vec_id = 0),
         |pr AS (SELECT cell FROM (
         |  SELECT cb.cid AS cell,
         |    row_number() OVER (ORDER BY ${dkL2sq("q.qe", "cb.cv")},
         |      cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |scored AS (
         |  SELECT a.vec_id, ${dkL2sq("c.de", "q16.qe")} AS d
         |  FROM asg a JOIN pr ON a.cell = pr.cell
         |  JOIN f16dl c ON c.vec_id = a.vec_id CROSS JOIN q16),
         |ranked AS (
         |  SELECT vec_id, d,
         |    row_number() OVER (ORDER BY d, vec_id) AS rk
         |  FROM scored)
         |SELECT vec_id, round(d, 4) AS dist FROM ranked
         |WHERE rk <= 20""".stripMargin,
    "q_indexed_bq" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |            FROM embeddings WHERE vec_id < 16),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |pr AS (SELECT cell FROM (
         |  SELECT cb.cid AS cell,
         |    row_number() OVER (ORDER BY ${dkL2sq("q.qe", "cb.cv")},
         |      cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |ham AS (
         |  SELECT a.vec_id,
         |    list_sum(list_transform(range(1, len(e.embedding)+1),
         |      i -> CASE WHEN (e.embedding[i] > 0) != (q.qe[i] > 0)
         |           THEN 1 ELSE 0 END)) AS hd
         |  FROM asg a JOIN pr ON a.cell = pr.cell
         |  JOIN embeddings e ON e.vec_id = a.vec_id CROSS JOIN q),
         |sl AS (SELECT vec_id FROM (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY hd, vec_id) AS rn
         |  FROM ham) _s WHERE rn <= 40),
         |ranked AS (
         |  SELECT sl.vec_id, ${dkL2sq("e.embedding", "q.qe")} AS d,
         |    row_number() OVER (ORDER BY ${dkL2sq("e.embedding", "q.qe")},
         |      sl.vec_id) AS rk
         |  FROM sl JOIN embeddings e ON e.vec_id = sl.vec_id
         |  CROSS JOIN q)
         |SELECT vec_id, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 20 ORDER BY dist, vec_id""".stripMargin,
    // append face at full probe == exact kNN over the whole corpus
    "q_ivf_append_knn" -> knnOracle,
    "q_ivf_delete_knn" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.embedding", "q.qe")} AS d
         |  FROM embeddings c, q WHERE c.vec_id % 10 <> 0),
         |ranked AS (
         |  SELECT qid, nid, d,
         |         row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // compaction must be invisible to results: same exact-kNN oracle
    "q_ivf_compact_knn" -> knnOracle,
    // shard merge at full probe == exact kNN over the shard union
    "q_ivf_merge_knn" -> knnOracle,
    // planner range rewrite at full probe == the same brute force
    "q_indexed_range" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings
         |           WHERE vec_id = 0),
         |d AS (SELECT c.vec_id, ${dkL2sq("c.embedding", "q.qe")} AS d
         |      FROM embeddings c CROSS JOIN q)
         |SELECT vec_id, round(d, 4) AS dist
         |FROM d WHERE d <= 1.5 ORDER BY d, vec_id""".stripMargin,
    // range scan at full probe == brute-force distance filter
    "q_vec_range" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 5),
         |d AS (SELECT q.qid, c.vec_id AS nid,
         |    ${dkL2sq("c.embedding", "q.qe")} AS d
         |  FROM embeddings c CROSS JOIN q)
         |SELECT qid, nid,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY d, nid) AS INT) AS rank,
         |  round(d, 4) AS dist
         |FROM d WHERE d <= 1.5 ORDER BY qid, rank""".stripMargin,
    // streamed-ingest replay at full probe == the same exact kNN
    "q_vec_ingest_replay" -> knnOracle,
    // SQ8 absorption: min/max fit over the EVEN half only; every row
    // coded under that frozen model with the saturating clamp
    // (LEAST/GREATEST mirrors Sq8Encode's math.min/math.max), decoded,
    // then brute-force top-10 == the full-probe search result
    "q_ivf_sq_append_knn" ->
      s"""WITH x AS (
         |  SELECT vec_id, CAST(unnest(range(0, len(embedding))) AS INT)
         |    AS pos, unnest(embedding) AS v
         |  FROM embeddings),
         |m AS (
         |  SELECT pos, min(CAST(v AS DOUBLE)) AS mn,
         |    max(CAST(v AS DOUBLE)) AS mx
         |  FROM x WHERE vec_id % 2 = 0 GROUP BY pos),
         |codes AS (
         |  SELECT x.vec_id, x.pos, m.mn, m.mx,
         |    CASE WHEN m.mx > m.mn
         |      THEN LEAST(255, GREATEST(0,
         |        floor((CAST(x.v AS DOUBLE) - m.mn) * 255
         |          / (m.mx - m.mn) + 0.5)))
         |      ELSE 0 END AS code
         |  FROM x JOIN m ON m.pos = x.pos),
         |rec AS (
         |  SELECT vec_id,
         |    list(CAST(mn + code / 255 * (mx - mn) AS REAL)
         |      ORDER BY pos) AS vhat
         |  FROM codes GROUP BY vec_id),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.qid, c.vec_id AS nid, ${dkL2sq("c.vhat", "q.qe")} AS d
         |  FROM rec c, q),
         |ranked AS (
         |  SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rk
         |  FROM scored)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // full restatement of fixed-quantizer partial-probe recall:
    // assignment = argmin over the 16 fixed centroids (ties to lower
    // cell id, matching nearestCentroid's first-min), probes = each
    // query's 4 nearest centroids, candidates ranked by exact l2sq
    // with (dist, nid) ties, overlap with the exact top-10
    "q_ivf_recall_fixed" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 16),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qe", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |appr AS (SELECT * FROM (
         |  SELECT c.qid, c.nid,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qe")}, c.nid) AS rk
         |  FROM (SELECT pr.qid, a.vec_id AS nid
         |        FROM pr JOIN asg a ON a.cell = pr.cell) c
         |  JOIN embeddings e ON e.vec_id = c.nid
         |  JOIN q ON q.qid = c.qid) _r WHERE rk <= 10),
         |ex AS (SELECT * FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qe")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _e WHERE rk <= 10)
         |SELECT ex.qid, CAST(count(appr.nid) AS DOUBLE) / 10 AS recall
         |FROM ex LEFT JOIN appr ON ex.qid = appr.qid AND ex.nid = appr.nid
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin,
    // cell stats: same fixed-anchor argmin, counted per cell
    "q_ivf_cell_stats" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 16),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |tot AS (SELECT count(*) AS t FROM asg)
         |SELECT a.cell AS cell_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  round(CAST(count(*) AS DOUBLE) / max(tot.t), 4) AS pct
         |FROM asg a CROSS JOIN tot
         |GROUP BY a.cell ORDER BY cell_id""".stripMargin,
    // drift monitor: same fixed-anchor argmin assignment, per-half
    // per-dim means, cosine + L2 shift between the half centroids
    "q_embedding_drift" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 16),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |x AS (
         |  SELECT a.cell, e.vec_id % 2 = 0 AS is_v1,
         |    CAST(unnest(range(0, len(e.embedding))) AS INT) AS pos,
         |    CAST(unnest(e.embedding) AS DOUBLE) AS v
         |  FROM embeddings e JOIN asg a ON a.vec_id = e.vec_id),
         |d AS (
         |  SELECT cell, is_v1, pos, avg(v) AS m, count(*) AS n
         |  FROM x GROUP BY cell, is_v1, pos),
         |j AS (
         |  SELECT a.cell, a.pos, a.m AS m1, a.n AS n1, b.m AS m2,
         |    b.n AS n2
         |  FROM d a JOIN d b ON a.cell = b.cell AND a.pos = b.pos
         |    AND a.is_v1 AND NOT b.is_v1)
         |SELECT cell, CAST(max(n1) AS BIGINT) AS n_v1,
         |  CAST(max(n2) AS BIGINT) AS n_v2,
         |  round(sum(m1 * m2) /
         |    (sqrt(sum(m1 * m1)) * sqrt(sum(m2 * m2))), 4) AS cos_sim,
         |  round(sqrt(sum((m1 - m2) * (m1 - m2))), 4) AS shift
         |FROM j GROUP BY cell ORDER BY cell""".stripMargin,
    // same fixed-quantizer pipeline, graded order-sensitively: per
    // query MRR (1/rank of first true neighbor in the approx list) and
    // binary nDCG@10 (IDCG = all-hits DCG, computed with the same
    // 1..10 summation the Scala side uses)
    "q_ann_quality" ->
      s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cv
         |           FROM embeddings WHERE vec_id < 16),
         |asg AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dkL2sq("e.embedding", "cb.cv")}, cb.cid) AS rn
         |  FROM embeddings e CROSS JOIN cb) _a WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |pr AS (SELECT qid, cell FROM (
         |  SELECT q.qid, cb.cid AS cell,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("q.qe", "cb.cv")}, cb.cid) AS rn
         |  FROM q CROSS JOIN cb) _p WHERE rn <= 4),
         |appr AS (SELECT * FROM (
         |  SELECT c.qid, c.nid,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qe")}, c.nid) AS rk
         |  FROM (SELECT pr.qid, a.vec_id AS nid
         |        FROM pr JOIN asg a ON a.cell = pr.cell) c
         |  JOIN embeddings e ON e.vec_id = c.nid
         |  JOIN q ON q.qid = c.qid) _r WHERE rk <= 10),
         |ex AS (SELECT * FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qe")}, c.vec_id) AS rk
         |  FROM embeddings c, q) _e WHERE rk <= 10),
         |idcg AS (SELECT sum(1.0 / log2(r + 1)) AS v
         |         FROM range(1, 11) t(r)),
         |hits AS (
         |  SELECT a.qid, a.rk,
         |    CASE WHEN ex.nid IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM appr a LEFT JOIN ex
         |    ON ex.qid = a.qid AND ex.nid = a.nid)
         |SELECT h.qid,
         |  round(coalesce(max(CASE WHEN h.hit = 1
         |    THEN 1.0 / h.rk END), 0), 4) AS mrr,
         |  round(sum(CASE WHEN h.hit = 1
         |    THEN 1.0 / log2(h.rk + 1) ELSE 0 END) / max(idcg.v), 4)
         |    AS ndcg
         |FROM hits h CROSS JOIN idcg
         |GROUP BY h.qid ORDER BY h.qid""".stripMargin,
    // full restatement of the fixed-codebook ADC face: argmin codes
    // (shared base), per-(query,split,centroid) integer-quantized LUT
    // (per-dim floor(d²·1e6 + 0.5), matching searchAdc's lutScale
    // branch term-for-term), candidate distance = integer sum of the 8
    // looked-up LUT cells, top-10 with (dist, nid) tie-break.
    "q_ivfpq_adc_fixed" ->
      s"""${PqQueries.fixedAssignBase},
         |q AS (SELECT vec_id AS qid, split_id, a_sv AS q_sv
         |      FROM sub WHERE vec_id < 10),
         |lut AS (
         |  SELECT q.qid, cb.split_id, cb.centroid_id,
         |    list_sum(list_transform(range(1, len(q.q_sv)+1),
         |      i -> CAST(floor(
         |        (CAST(q.q_sv[i] AS DOUBLE) - CAST(cb.b_c[i] AS DOUBLE))
         |        * (CAST(q.q_sv[i] AS DOUBLE) - CAST(cb.b_c[i] AS DOUBLE))
         |        * 1000000 + 0.5) AS BIGINT))) AS dq
         |  FROM q JOIN cb ON q.split_id = cb.split_id),
         |adc AS (
         |  SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dq) AS BIGINT) AS dist_q
         |  FROM (SELECT vec_id, split_id, centroid_id AS code FROM scored
         |        WHERE rn = 1) c
         |  JOIN lut l ON c.split_id = l.split_id AND c.code = l.centroid_id
         |  GROUP BY l.qid, c.vec_id),
         |ranked AS (SELECT qid, nid, dist_q,
         |  row_number() OVER (PARTITION BY qid ORDER BY dist_q, nid) AS rk
         |  FROM adc)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, dist_q
         |FROM ranked WHERE rk <= 10 ORDER BY qid, rank""".stripMargin,
    // the refine face: the ADC restatement above truncated at the
    // 30-deep shortlist, then the exact-L2 re-rank over the original
    // floats with the same (dist, nid) tie-break as q_knn
    "q_ivfpq_refine_fixed" ->
      s"""${PqQueries.fixedAssignBase},
         |q AS (SELECT vec_id AS qid, split_id, a_sv AS q_sv
         |      FROM sub WHERE vec_id < 10),
         |lut AS (
         |  SELECT q.qid, cb.split_id, cb.centroid_id,
         |    list_sum(list_transform(range(1, len(q.q_sv)+1),
         |      i -> CAST(floor(
         |        (CAST(q.q_sv[i] AS DOUBLE) - CAST(cb.b_c[i] AS DOUBLE))
         |        * (CAST(q.q_sv[i] AS DOUBLE) - CAST(cb.b_c[i] AS DOUBLE))
         |        * 1000000 + 0.5) AS BIGINT))) AS dq
         |  FROM q JOIN cb ON q.split_id = cb.split_id),
         |adc AS (
         |  SELECT l.qid, c.vec_id AS nid, CAST(sum(l.dq) AS BIGINT) AS dist_q
         |  FROM (SELECT vec_id, split_id, centroid_id AS code FROM scored
         |        WHERE rn = 1) c
         |  JOIN lut l ON c.split_id = l.split_id AND c.code = l.centroid_id
         |  GROUP BY l.qid, c.vec_id),
         |pool AS (SELECT qid, nid FROM (
         |  SELECT qid, nid,
         |    row_number() OVER (PARTITION BY qid ORDER BY dist_q, nid) AS rk
         |  FROM adc) _p WHERE rk <= 30),
         |qe AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |       WHERE vec_id < 10),
         |rr AS (SELECT * FROM (
         |  SELECT pool.qid, pool.nid,
         |    ${dkL2sq("e.embedding", "qe.qv")} AS d,
         |    row_number() OVER (PARTITION BY pool.qid
         |      ORDER BY ${dkL2sq("e.embedding", "qe.qv")}, pool.nid) AS rk
         |  FROM pool JOIN embeddings e ON e.vec_id = pool.nid
         |  JOIN qe ON qe.qid = pool.qid) _r WHERE rk <= 10)
         |SELECT qid, nid, CAST(rk AS INT) AS rank, round(d, 4) AS dist
         |FROM rr ORDER BY qid, rank""".stripMargin,
    "q_vec_norm" ->
      s"""SELECT vec_id, round(sqrt(${dkNormSq("embedding")}), 4) AS nrm
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    // population covariance restated with the same E[ab] - E[a]E[b]
    // algebra the VectorMoments aggregate computes (double sums; the
    // ~1e-15 sum-order noise is absorbed by round 4)
    "q_vec_cov" ->
      """WITH e AS (SELECT vec_id, CAST(j AS INT) AS j,
        |    CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(embedding[1:8]) AS v,
        |          unnest(range(0, 8)) AS j FROM embeddings))
        |SELECT CAST(a.j AS INT) AS i, CAST(b.j AS INT) AS j,
        |  round((sum(a.v * b.v) - sum(a.v) * sum(b.v) / count(*))
        |    / count(*), 4) AS cov
        |FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.j <= b.j
        |GROUP BY 1, 2 ORDER BY i, j""".stripMargin,
    "q_vec_mean" ->
      """SELECT CAST(j AS INT) AS j,
        |  round(sum(v) / count(*), 4) AS mean
        |FROM (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |        unnest(range(0, len(embedding))) AS j FROM embeddings)
        |GROUP BY j ORDER BY j""".stripMargin,
    // trace invariant: sum of Jacobi eigenvalues == sum of per-dim
    // population variances over the raw table
    "q_pca_trace" ->
      """WITH e AS (SELECT vec_id, j, CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          unnest(range(0, len(embedding))) AS j
        |        FROM embeddings)),
        |pv AS (SELECT j,
        |    (sum(v * v) - sum(v) * sum(v) / count(*)) / count(*) AS vv
        |  FROM e GROUP BY j)
        |SELECT CAST(count(*) AS INT) AS dims,
        |  round(sum(vv), 4) AS trace FROM pv""".stripMargin,
    // frozen-basis projection: axis t = x[t]*(1/sqrt2) + x[t+32]*
    // (1/sqrt2), both engines do the identical two double
    // multiply-adds, then the same micro-unit floor
    "q_pca_project_fixed" ->
      """WITH axes AS (SELECT unnest(range(0, 4)) AS c)
        |SELECT e.vec_id AS vec_id, CAST(a.c AS INT) AS c,
        |  CAST(floor((CAST(e.embedding[a.c + 1] AS DOUBLE)
        |      * (1.0 / sqrt(2.0))
        |    + CAST(e.embedding[a.c + 33] AS DOUBLE)
        |      * (1.0 / sqrt(2.0))) * 1000000.0 + 0.5) AS BIGINT)
        |    AS v_micro
        |FROM embeddings e CROSS JOIN axes a
        |ORDER BY vec_id, c""".stripMargin,
    "q_ood_zscore" ->
      """WITH e AS (SELECT vec_id, j, CAST(v AS DOUBLE) AS v
        |  FROM (SELECT vec_id, unnest(embedding) AS v,
        |          unnest(range(0, len(embedding))) AS j
        |        FROM embeddings)),
        |m AS (SELECT j, sum(v) / count(*) AS mu,
        |    sqrt((sum(v * v) - sum(v) * sum(v) / count(*))
        |      / count(*)) AS sd
        |  FROM e GROUP BY j)
        |SELECT e.vec_id,
        |  round(sum(((e.v - m.mu) / m.sd) * ((e.v - m.mu) / m.sd)), 4)
        |    AS score
        |FROM e JOIN m ON e.j = m.j
        |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,
    // per-(label, j) mean over the RAW table — the rollup serve must
    // reproduce it from its struct(n, sums) partials
    "q_mv_centroid" ->
      """WITH e AS (SELECT label, CAST(v AS DOUBLE) AS v, j
        |  FROM (SELECT label, unnest(embedding) AS v,
        |          unnest(range(0, len(embedding))) AS j
        |        FROM embeddings WHERE embedding IS NOT NULL))
        |SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(j AS INT) AS j,
        |  round(sum(v) / count(*), 4) AS c
        |FROM e GROUP BY label, j ORDER BY label, j""".stripMargin,
    // nearest-centroid confusion counts: DuckDB recomputes per-label
    // means, per-(vector, centroid) squared distance, argmin with the
    // same (dist, clabel) tie order, then counts
    "q_centroid_assign" ->
      """WITH e AS (SELECT vec_id, label, CAST(v AS DOUBLE) AS v, j
        |  FROM (SELECT vec_id, label, unnest(embedding) AS v,
        |          unnest(range(0, len(embedding))) AS j
        |        FROM embeddings WHERE embedding IS NOT NULL)),
        |c AS (SELECT label AS clabel, j, sum(v) / count(*) AS cv
        |  FROM e GROUP BY label, j),
        |d AS (SELECT e.vec_id, e.label, c.clabel,
        |    sum((e.v - c.cv) * (e.v - c.cv)) AS dist
        |  FROM e JOIN c ON e.j = c.j
        |  GROUP BY e.vec_id, e.label, c.clabel),
        |r AS (SELECT vec_id, label, clabel,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, clabel) AS rk
        |  FROM d)
        |SELECT label, clabel AS assigned, count(*) AS n
        |FROM r WHERE rk = 1
        |GROUP BY label, clabel ORDER BY label, assigned""".stripMargin,
    // trace identity: mean squared Mahalanobis over the fitting
    // corpus == d; the oracle reads d from the schema, the Spark side
    // must earn it through moments -> eigen -> whiten -> score
    "q_mahalanobis_mean" ->
      """SELECT count(*) AS n_rows,
        |  round(CAST(max(len(embedding)) AS DOUBLE), 4) AS mean_score
        |FROM embeddings""".stripMargin,
    // same v^3 mod 101 mod 6 sign hash, same index-ordered fold
    "q_rand_project" ->
      """SELECT vec_id, CAST(c AS INT) AS c,
        |  round(sqrt(3.0 / 8) * list_sum(list_transform(
        |    range(1, len(embedding) + 1),
        |    j -> CAST(embedding[j] AS DOUBLE) *
        |      (CASE (((c + 1) * 12345 + j) * ((c + 1) * 12345 + j)
        |             * ((c + 1) * 12345 + j)) % 101 % 6
        |       WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END))), 4)
        |    AS val
        |FROM embeddings, (SELECT unnest(range(0, 8)) AS c)
        |ORDER BY vec_id, c""".stripMargin,
    "q_vec_slice" ->
      """SELECT vec_id, CAST(unnest(range(0, 8)) AS INT) AS pos,
        | unnest(embedding[1:8]) AS val
        |FROM embeddings ORDER BY vec_id, pos""".stripMargin,
    // fit → code → decode → brute-force top-k, all restated; the
    // reconstruction mirrors ScalarQuantizer.dequantize's op order
    // (mn + code/255*(mx-mn), REAL cast), so distances agree exactly.
    // q_ivf_sq_knn shares it: at full probe the IVF layer is a no-op
    // and the result must equal this brute force.
    "q_ivf_sq_knn" -> sqKnnOracle,
    "q_sq_knn" -> sqKnnOracle,
    // MMR m=2 unrolled: pick 1 = relevance argmin; pick 2 = argmax of
    // 0.5·(−d) − 0.5·max(0, cos_sim(candidate, pick 1)) over the
    // remaining 19 candidates; cos_sim restated as the same
    // interleaved-accumulator folds (dot / sqrt(na·nb))
    "q_mmr_pair" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |cand AS (SELECT * FROM (
         |  SELECT q.qid, e.vec_id AS nid, e.embedding AS v,
         |    ${dkL2sq("e.embedding", "q.qe")} AS d,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qe")}, e.vec_id) AS rk
         |  FROM embeddings e, q) _c WHERE rk <= 20),
         |f AS (SELECT qid, nid, v, d FROM cand WHERE rk = 1),
         |snd AS (SELECT * FROM (
         |  SELECT c.qid, c.nid,
         |    0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |      ${dkDot("c.v", "f.v")} /
         |        sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")})) AS s,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY 0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |        ${dkDot("c.v", "f.v")} /
         |          sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")})) DESC,
         |        c.nid) AS rn
         |  FROM cand c JOIN f ON c.qid = f.qid AND c.rk > 1) _s
         |  WHERE rn = 1)
         |SELECT qid, nid, CAST(1 AS INT) AS mmr_rank,
         |  floor(0.5 * (-d) * 10000 + 0.5) / 10000 AS mmr_score
         |FROM f
         |UNION ALL
         |SELECT qid, nid, CAST(2 AS INT) AS mmr_rank,
         |  floor(s * 10000 + 0.5) / 10000 AS mmr_score
         |FROM snd
         |ORDER BY qid, mmr_rank""".stripMargin,

    // MMR m=3 unrolled: picks 1 and 2 as in q_mmr_pair; pick 3 =
    // argmax of 0.5·(−d) − 0.5·GREATEST(0, cos(v,p1), cos(v,p2)) over
    // the 18 remaining candidates (excluded by nid, since pick 2 is
    // not necessarily rk=2)
    "q_mmr_triple" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
         |           FROM embeddings WHERE vec_id < 10),
         |cand AS (SELECT * FROM (
         |  SELECT q.qid, e.vec_id AS nid, e.embedding AS v,
         |    ${dkL2sq("e.embedding", "q.qe")} AS d,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("e.embedding", "q.qe")}, e.vec_id) AS rk
         |  FROM embeddings e, q) _c WHERE rk <= 20),
         |f AS (SELECT qid, nid, v, d FROM cand WHERE rk = 1),
         |snd AS (SELECT * FROM (
         |  SELECT c.qid, c.nid, c.v,
         |    0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |      ${dkDot("c.v", "f.v")} /
         |        sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")})) AS s,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY 0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |        ${dkDot("c.v", "f.v")} /
         |          sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")})) DESC,
         |        c.nid) AS rn
         |  FROM cand c JOIN f ON c.qid = f.qid AND c.rk > 1) _s
         |  WHERE rn = 1),
         |trd AS (SELECT * FROM (
         |  SELECT c.qid, c.nid,
         |    0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |      ${dkDot("c.v", "f.v")} /
         |        sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")}),
         |      ${dkDot("c.v", "s2.v")} /
         |        sqrt(${dkNormSq("c.v")} * ${dkNormSq("s2.v")})) AS s,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY 0.5 * (-c.d) - 0.5 * GREATEST(0.0,
         |        ${dkDot("c.v", "f.v")} /
         |          sqrt(${dkNormSq("c.v")} * ${dkNormSq("f.v")}),
         |        ${dkDot("c.v", "s2.v")} /
         |          sqrt(${dkNormSq("c.v")} * ${dkNormSq("s2.v")})) DESC,
         |        c.nid) AS rn
         |  FROM cand c JOIN f ON c.qid = f.qid
         |  JOIN snd s2 ON c.qid = s2.qid
         |  WHERE c.nid != f.nid AND c.nid != s2.nid) _t
         |  WHERE rn = 1)
         |SELECT qid, nid, CAST(1 AS INT) AS mmr_rank,
         |  floor(0.5 * (-d) * 10000 + 0.5) / 10000 AS mmr_score
         |FROM f
         |UNION ALL
         |SELECT qid, nid, CAST(2 AS INT) AS mmr_rank,
         |  floor(s * 10000 + 0.5) / 10000 AS mmr_score
         |FROM snd
         |UNION ALL
         |SELECT qid, nid, CAST(3 AS INT) AS mmr_rank,
         |  floor(s * 10000 + 0.5) / 10000 AS mmr_score
         |FROM trd
         |ORDER BY qid, mmr_rank""".stripMargin,

    // hardest positive / hardest negative per anchor, full-corpus rank
    "q_triplet_mine" ->
      s"""WITH a AS (SELECT vec_id AS qid, embedding AS qv,
         |           label AS qlabel FROM embeddings WHERE vec_id < 10),
         |sc AS (
         |  SELECT a.qid, a.qlabel, e.vec_id AS nid, e.label,
         |    ${dkL2sq("e.embedding", "a.qv")} AS d
         |  FROM embeddings e CROSS JOIN a WHERE e.vec_id != a.qid),
         |pos AS (SELECT qid, nid AS pos_id, round(d, 4) AS pos_dist FROM (
         |  SELECT qid, nid, d, row_number() OVER (PARTITION BY qid
         |    ORDER BY d, nid) AS rn FROM sc WHERE label = qlabel) _p
         |  WHERE rn = 1),
         |neg AS (SELECT qid, nid AS neg_id, round(d, 4) AS neg_dist FROM (
         |  SELECT qid, nid, d, row_number() OVER (PARTITION BY qid
         |    ORDER BY d, nid) AS rn FROM sc WHERE label != qlabel) _n
         |  WHERE rn = 1)
         |SELECT pos.qid, pos.pos_id, pos.pos_dist, neg.neg_id,
         |  neg.neg_dist
         |FROM pos JOIN neg ON pos.qid = neg.qid ORDER BY pos.qid""".stripMargin,

    // exact float top-10 vs SQ8-reconstructed top-10, per-query overlap
    "q_sq_recall" ->
      s"""WITH $sqRecCte,
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |      WHERE vec_id < 10),
         |ex AS (SELECT * FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.embedding", "q.qe")}, c.vec_id) AS rk
         |  FROM embeddings c, q) WHERE rk <= 10),
         |sq AS (SELECT * FROM (
         |  SELECT q.qid, c.vec_id AS nid,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY ${dkL2sq("c.vhat", "q.qe")}, c.vec_id) AS rk
         |  FROM rec c, q) WHERE rk <= 10)
         |SELECT ex.qid, CAST(count(sq.nid) AS DOUBLE) / 10 AS recall
         |FROM ex LEFT JOIN sq ON ex.qid = sq.qid AND ex.nid = sq.nid
         |GROUP BY ex.qid ORDER BY ex.qid""".stripMargin,

    // same op order as ScalarQuantizer.quantize: (x-mn)*255/(mx-mn)+0.5
    // — IEEE -, *, /, floor are correctly rounded, so the doubles (and
    // the floored codes) agree bit-for-bit
    "q_vec_scalar_quant" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(unnest(range(0, len(embedding))) AS INT)
        |    AS pos, unnest(embedding) AS v
        |  FROM embeddings),
        |m AS (
        |  SELECT pos, min(CAST(v AS DOUBLE)) AS mn,
        |    max(CAST(v AS DOUBLE)) AS mx
        |  FROM x GROUP BY pos)
        |SELECT x.vec_id, x.pos,
        |  CAST(CASE WHEN m.mx > m.mn
        |    THEN floor((CAST(x.v AS DOUBLE) - m.mn) * 255 / (m.mx - m.mn)
        |      + 0.5)
        |    ELSE 0 END AS INT) AS code
        |FROM x JOIN m ON m.pos = x.pos
        |ORDER BY x.vec_id, x.pos""".stripMargin,
    "q_vec_normalize" ->
      s"""WITH sc AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x * CAST(3.0 AS FLOAT) AS FLOAT)) AS e
         |  FROM embeddings),
         |nv AS (
         |  SELECT vec_id,
         |    CASE WHEN ${OracleFrag.dkNormSq("e")} = 0 THEN e
         |         ELSE list_transform(e, x -> CAST(CAST(x AS DOUBLE) / sqrt(${OracleFrag.dkNormSq("e")}) AS FLOAT))
         |    END AS nv
         |  FROM sc)
         |SELECT vec_id, CAST(unnest(range(0, len(nv))) AS INT) AS pos,
         | unnest(nv) AS val
         |FROM nv ORDER BY vec_id, pos""".stripMargin,
    "q_dist_anchor" ->
      s"""WITH a AS (SELECT embedding AS anchor FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         | round(${dkL2sq("e.embedding", "a.anchor")}, 4) AS l2sq,
         | round(${dkCos("e.embedding", "a.anchor")}, 4) AS cos,
         | round(${dkDot("e.embedding", "a.anchor")}, 4) AS dot
         |FROM embeddings e, a ORDER BY e.vec_id""".stripMargin,
    "q_cluster_sample" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, c.cid,
         |  ${dkL2sq("e.embedding", "c.cvec")} AS dist
         |  FROM embeddings e CROSS JOIN c),
         |a AS (SELECT vec_id, cid, dist,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d),
         |s AS (SELECT vec_id, cid, dist,
         |  CAST(row_number() OVER (PARTITION BY cid
         |    ORDER BY (vec_id * 2654435761) % 1000000007, vec_id) AS INT) AS rnk
         |  FROM a WHERE rn = 1)
         |SELECT cid, vec_id, round(dist, 4) AS dist, rnk
         |FROM s WHERE rnk <= 20 ORDER BY cid, rnk""".stripMargin,
    "q_knn" -> knnOracle,
    "q_knn_filtered" -> oracleSqlKnnFiltered,

    // index-level filtered ANN at full probe == the brute filtered
    // search; same oracle
    "q_ivf_knn_filtered" -> oracleSqlKnnFiltered,
    // q_knn_graph_ivf shares the exact-graph oracle: full probe makes
    // the IVF result identical to brute force (as q_ivf_knn).
    "q_knn_graph_ivf" -> knnGraphOracle,
    "q_knn_graph" -> knnGraphOracle,
    "q_knn_recall" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |l2 AS (
         |  SELECT * FROM (
         |    SELECT q.qid, c.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY ${dkL2sq("c.embedding", "q.qe")}, c.vec_id) AS rk
         |    FROM embeddings c, q) WHERE rk <= 10),
         |cs AS (
         |  SELECT * FROM (
         |    SELECT q.qid, c.vec_id AS nid,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY ${dkCos("c.embedding", "q.qe")}, c.vec_id) AS rk
         |    FROM embeddings c, q) WHERE rk <= 10)
         |SELECT l2.qid, CAST(count(cs.nid) AS DOUBLE) / 10 AS recall
         |FROM l2 LEFT JOIN cs ON l2.qid = cs.qid AND l2.nid = cs.nid
         |GROUP BY l2.qid ORDER BY l2.qid""".stripMargin
  )
}
