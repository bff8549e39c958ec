package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T}
import graft.operators.{Dedup, TextAnalysis => TA}

/** Training-data pipeline coverage over the documents/embeddings tables:
  * text analysis (stats, quality, language-ID, fingerprints), and the
  * dedup suite (exact, n-gram Jaccard, MinHash-LSH, SimHash,
  * embedding-cosine).
  */
object DocumentQueries {
  private implicit class ColName(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }
  import OracleFrag.dkCos

  // q_pair_explain's materialized gram relation, one per (session,
  // sf-dir) — see the face for why Spark needs this where DuckDB's
  // CTE materialization is automatic
  private val shGrams = scala.collection.concurrent.TrieMap[
    (SparkSession, String), DataFrame]()

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  private def viaSql(s: SparkSession, dir: String, sql: String): DataFrame = {
    docs(s, dir).createOrReplaceTempView("documents")
    s.sql(sql)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text stats: token/char/punct/stopword counting.
    "q_text_stats" -> ((s, dir) =>
      viaSql(s, dir, TA.statsSql(TA.SparkDialect))),

    // Quality scoring in [0,1].
    "q_quality_score" -> ((s, dir) =>
      viaSql(s, dir, TA.qualitySql(TA.SparkDialect))),

    // Language-ID heuristic (stopword voting).
    "q_langid" -> ((s, dir) =>
      viaSql(s, dir, TA.langidSql(TA.SparkDialect))),

    // md5 document fingerprint.
    "q_fingerprint" -> ((s, dir) =>
      viaSql(s, dir, TA.fingerprintSql(TA.SparkDialect))),

    // Winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003, the MOSS
    // scheme): rightmost-min of each window of 4 consecutive 3-gram
    // FNV hashes. Local (robust to edits outside the window) with a
    // guaranteed fingerprint per 4 grams — the standard robust
    // alternative to whole-document md5 for contamination scans.
    // Pure per-row projection: shuffle-free at any corpus size.
    "q_winnow" -> ((s, dir) =>
      docs(s, dir)
        .select($"doc_id",
          explode(T.winnow(T.gram_hashes($"text", 3), 4)).as("f"))
        .select($"doc_id", $"f.pos".as("pos"), $"f.fp".as("fp"))
        .orderBy($"doc_id", $"pos")),

    // MOSS match step over the winnowed fingerprints: doc pairs
    // sharing >= 5 kept fingerprints (document-frequency cap 50 drops
    // boilerplate AND bounds the bucket join), Jaccard-scored.
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(docs(s, dir), "doc_id", "text")
        .orderBy($"i", $"j")),

    // P2/P7: the reference's usable-text ignore filter, grouped counts.
    "q_ignore_filter" -> ((s, dir) =>
      docs(s, dir)
        .where(T.usable_text($"text") && trim($"text") =!= "")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
        .orderBy($"lang")),

    // Exact dedup by content hash (id → kept representative + group size).
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .orderBy($"doc_id")),

    // Exact word-3-gram Jaccard near-dup pairs at tau=0.5.
    "q_jaccard_dups" -> ((s, dir) =>
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3, tau = 0.5)
        .select($"i", $"j", round($"jac", 3).as("jac"))
        .orderBy($"i", $"j")),

    // Directed containment pairs at tau=0.8: the excerpt/quotation
    // detector Jaccard structurally misses (a short doc quoted in a
    // long one has cont~1 but jac~|A|/|B|). Exact-verified, so the
    // naive all-pairs SQL restates it.
    "q_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text",
        n = 3, tau = 0.8)
        .select($"i", $"j", round($"cont", 3).as("cont"))
        .orderBy($"i", $"j")),

    // MinHash-LSH near-dup pairs. 64 bands x 2 rows: P[band collision |
    // jac=0.5] = 1-(1-0.5^2)^64 ~= 1-1e-8, so recall at tau=0.5 is
    // certain for practical purposes and the exact-Jaccard oracle
    // applies (candidates are exact-verified, so precision is exact).
    "q_minhash_dups" -> ((s, dir) =>
      Dedup.minhashDupPairs(docs(s, dir), "doc_id", "text",
        n = 3, numHashes = 128, bands = 64, tau = 0.5)
        .select($"i", $"j", round($"jac", 3).as("jac"))
        .orderBy($"i", $"j")),

    // The zipfian scale path: same MinHash-LSH with the band df-cap
    // that guards real web corpora against boilerplate buckets. A
    // 50-doc identical cluster is planted IN the query; every one of
    // its band keys exceeds the cap, so the cluster contributes ZERO
    // pairs (exact dedup owns identical docs), while every
    // organic near-dup pair still surfaces — the oracle is the exact
    // Jaccard graph minus intra-cluster pairs.
    "q_minhash_skew_capped" -> ((s, dir) => {
      val boiler = s.range(50).select(($"id" + 9000000L).as("doc_id"),
        lit(("boilerplate " * 60).trim).as("text"))
      val corpus = docs(s, dir).select($"doc_id", $"text")
        .unionByName(boiler)
      Dedup.minhashDupPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 128, bands = 64, tau = 0.5,
        maxBandDocFreq = Some(20))
        .select($"i", $"j", round($"jac", 3).as("jac"))
        .orderBy($"i", $"j")
    }),

    // Dedup decision EXPLAIN: for the first near-dup pair (by id),
    // the evidence a human reviews — both shingle counts, the shared
    // count, Jaccard, containment in both directions, and the three
    // smallest shared n-grams verbatim. The observability face every
    // dedup engine needs when someone asks "why were these merged?";
    // pure SQL, restated verbatim by the oracle.
    "q_pair_explain" -> ((s, dir) => {
      docs(s, dir).createOrReplaceTempView("documents")
      // Spark inlines CTEs, so the exploded-gram relation `sh` would
      // recompute once per reference (4x here, with a distinct shuffle
      // each). Materialize it once per sf-dir instead — Spark's analog
      // of DuckDB's materialized CTE, and what makes this face's cost
      // the pair scan rather than four gram explosions.
      val sh = shGrams.getOrElseUpdate((s, dir), s.sql(
        """SELECT DISTINCT doc_id, g FROM (
          |  SELECT doc_id, explode(transform(sequence(1, size(ws) - 2),
          |    i -> concat_ws(' ', element_at(ws, i),
          |      element_at(ws, i + 1), element_at(ws, i + 2)))) AS g
          |  FROM (SELECT doc_id, split(trim(text), ' ') AS ws
          |        FROM documents WHERE length(trim(text)) > 0)
          |  WHERE size(ws) >= 3)""".stripMargin))
      // re-persist after a caller clearCache (the Dedup-memo contract:
      // correctness from lineage, the cache only carries cost)
      if (sh.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE) {
        sh.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        sh.count()
      }
      sh.createOrReplaceTempView("sh_pe")
      s.sql(
        """WITH sh AS (SELECT * FROM sh_pe),
          |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |pairs AS (
          |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
          |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2),
          |pick AS (
          |  SELECT p.i, p.j, p.c, ca.n AS n_i, cb.n AS n_j
          |  FROM pairs p JOIN cnt ca ON ca.doc_id = p.i
          |  JOIN cnt cb ON cb.doc_id = p.j
          |  WHERE CAST(p.c AS DOUBLE) / (ca.n + cb.n - p.c) >= 0.5
          |  ORDER BY p.i, p.j LIMIT 1)
          |SELECT k.i, k.j, k.n_i, k.n_j, k.c AS shared,
          |  round(CAST(k.c AS DOUBLE) / (k.n_i + k.n_j - k.c), 3)
          |    AS jac,
          |  round(CAST(k.c AS DOUBLE) / k.n_i, 3) AS cont_ij,
          |  round(CAST(k.c AS DOUBLE) / k.n_j, 3) AS cont_ji,
          |  array_join(slice(array_sort(collect_list(a.g)), 1, 3), '|')
          |    AS sample_grams
          |FROM pick k
          |JOIN sh a ON a.doc_id = k.i
          |JOIN sh b ON b.doc_id = k.j AND b.g = a.g
          |GROUP BY k.i, k.j, k.n_i, k.n_j, k.c""".stripMargin)
    }),

    // Ingest-time containment: the odd half (arriving batch) checked
    // for excerpts/quotes of the even half (resident corpus) — the
    // asymmetric sibling of incremental dedup. Exact-verified, naive
    // cross SQL restates it.
    "q_containment_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.containmentAgainst(
          d.where($"doc_id" % 2 === 0), d.where($"doc_id" % 2 =!= 0),
          "doc_id", "text", n = 3, tau = 0.8)
        .select($"new_id", $"old_id", round($"cont", 3).as("cont"))
        .orderBy($"new_id", $"old_id")
    }),

    // Dedup reporting: cluster-size histogram over the near-dup
    // component graph — the number a curation run actually reads
    // ("how much of the corpus sits in 2-clusters vs 50-clusters")
    // before choosing a keep policy. Composition of the components
    // face; two tiny aggregations on top.
    "q_dup_cluster_sizes" -> ((s, dir) =>
      Dedup.connectedComponents(
          Dedup.jaccardPairs(docs(s, dir), "doc_id", "text",
            n = 3, tau = 0.5))
        .groupBy($"component").agg(count(lit(1)).as("cluster_size"))
        .groupBy($"cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy($"cluster_size")),

    // Sorted-neighborhood dedup (merge/purge blocking): normalized
    // sort key, per-block row_number, rank-distance-bounded candidate
    // pairs, exact Jaccard verification. The no-signature alternative
    // for prefix-sharing dup regimes; the oracle restates the entire
    // pipeline including the window.
    "q_snm_dups" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(docs(s, dir), "doc_id", "text",
        n = 3, tau = 0.5, blockChars = 8, window = 10)
        .select($"i", $"j", round($"jac", 3).as("jac"))
        .orderBy($"i", $"j")),

    // The LSH knob-tuner behind the MinHash family: S-curve FP/FN
    // areas for every (bands, rows) factorization of 128 hashes at
    // tau=0.5, on a fixed 200-point midpoint grid. Pure math on
    // literals — this is the pre-flight computation that sizes the
    // banding before a corpus-scale pass; DuckDB restates the grid
    // exactly, so the tuner's numbers are hash-checked.
    "q_lsh_tune" -> ((s, _) =>
      Dedup.lshTuneGrid(s, threshold = 0.5, numHashes = 128,
        gridN = 200)),

    // Duplicate clusters: connected components over the exact-Jaccard
    // pair graph — each doc labeled with its cluster's minimum id (the
    // canonical representative). Oracle: the pair SQL + unrolled
    // min-label propagation (cluster diameter here ≪ the 12 unrolled
    // steps); the Spark side clusters exactly, by a driver union-find
    // at this pair count (distributed star rounds past its bound).
    "q_dedup_components" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3, tau = 0.5))
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")),

    // Quality-aware canonical selection over the same cluster view:
    // keep the LONGEST document of every near-dup cluster (ties →
    // smallest id) instead of the min-id default — the curation
    // policy that preserves the best copy. Oracle: the components
    // restatement + a row_number argmax per cluster; the length score
    // is integral, so keep flags hash-match.
    "q_dedup_best_rep" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.clusterRepresentatives(
          d.select($"doc_id",
            coalesce(length($"text").cast("long"), lit(-1L)).as("tlen")),
          "doc_id", "tlen",
          Dedup.jaccardPairs(d, "doc_id", "text", n = 3, tau = 0.5))
        .toDF("doc_id", "cluster", "keep")
        .orderBy($"doc_id")
    }),

    // Near-dup-safe leakage split: members of a MinHash near-dup
    // component draw ONE fold via their component representative
    // (min-label), so a near-copy of a training document can never
    // land in the eval set (Lee et al. 2022); docs outside any pair
    // are their own representative. Composition of q_minhash_dups
    // (exact-Jaccard oracle, banding recall ~1 at 64x2) and
    // q_dedup_components (unrolled min-label), ending in the
    // q_leakage_split LCG draw — each link oracled on its own, here
    // hash-checked END TO END.
    "q_leakage_split_neardup" -> ((s, dir) => {
      val d = docs(s, dir)
      val comp = Dedup.connectedComponents(
        Dedup.minhashDupPairs(d, "doc_id", "text",
          n = 3, numHashes = 128, bands = 64, tau = 0.5))
        .withColumnRenamed("id", "doc_id")
      d.select($"doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"component", $"doc_id").as("rep_id"))
        .withColumn("u",
          (($"rep_id" % 1000000L) * 2246822519L + 40503L) % 1000000L)
        .withColumn("split",
          when($"u" < 900000L, "train")
            .when($"u" < 950000L, "val").otherwise("test"))
        .orderBy($"doc_id")
    }),

    // Incremental ingest dedup: a new batch (doc_id % 5 == 0) checked
    // against the accumulated corpus (the rest) — cross-corpus
    // MinHash-LSH banding + exact verification, no corpus self-join.
    // Oracle: exact cross-side Jaccard pairs (banding recall ~1 at
    // tau=0.5 with 64x2, as with q_minhash_dups).
    "q_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusDupPairs(
        existing = d.where($"doc_id" % 5 =!= 0),
        incoming = d.where($"doc_id" % 5 === 0),
        "doc_id", "text", n = 3, tau = 0.5)
        .select($"new_id", $"old_id", round($"jac", 3).as("jac"))
        .orderBy($"new_id", $"old_id")
    }),

    // Big-batch regime of the same ingest dedup: the resident band
    // index is bloom-pruned by the incoming batch's band keys before
    // its exchange (for when the batch is too big to broadcast).
    // Exact FP cleanup ⇒ shares the q_incremental_dedup oracle.
    "q_incremental_dedup_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusDupPairs(
        existing = d.where($"doc_id" % 5 =!= 0),
        incoming = d.where($"doc_id" % 5 === 0),
        "doc_id", "text", n = 3, tau = 0.5, strategy = "bloom")
        .select($"new_id", $"old_id", round($"jac", 3).as("jac"))
        .orderBy($"new_id", $"old_id")
    }),

    // Streaming near-dup replay: the corpus arrives as 3 ordered
    // batches (doc_id % 3); each batch dedups against the persisted
    // signature index of EARLIER SURVIVORS, then within itself — the
    // exact per-batch path NearDupStream's foreachBatch runs (one code
    // path, invoked via replayBatches). Oracle: the sequential
    // windowed cross-corpus restatement in exact Jaccard (banding
    // recall ~1 at tau=0.5, as established by q_minhash_dups).
    "q_dedup_stream_replay" -> ((s, dir) => {
      val d = docs(s, dir)
      val root = java.nio.file.Files
        .createTempDirectory("graft_replay").toString
      graft.streaming.NearDupStream.replayBatches(
        (0 until 3).map(b => d.where(pmod($"doc_id", lit(3)) === b)),
        "doc_id", "text", s"$root/out", tau = 0.5)
        .select($"doc_id", $"batch_id".cast("int").as("batch_id"))
        .orderBy($"doc_id")
    }),

    // SimHash near-dup pairs, oracled by a full DuckDB restatement of
    // the FNV-1a + bit-vote construction (see simhashOracle below).
    "q_simhash_dups" -> ((s, dir) =>
      Dedup.simhashDupPairs(docs(s, dir), "doc_id", "text", maxHamming = 10)
        .orderBy($"i", $"j")),

    // Flagship composite: usable filter → quality gate → near-dup
    // removal, one call. Oracle re-states the full chain in SQL.
    "q_clean_corpus" -> ((s, dir) =>
      graft.operators.CorpusPipeline.cleanCorpus(s,
        docs(s, dir).select($"doc_id", $"text", $"lang"),
        minQuality = 0.5, tau = 0.5)
        .select($"doc_id", $"lang", $"quality")
        .orderBy($"doc_id")),

    // Multimodal plumbing: binary payloads (text bytes stand in for
    // media here) → batched feature extraction with the stub decoder.
    // Features exploded to (doc_id, pos, val) and floor-rounded to 4
    // decimals; the DuckDB oracle restates the full stripe-hash
    // (mix64 over bytes, wrapping long accumulation, 16-dim
    // normalize) — see multimodalOracle.
    "q_multimodal_features" -> ((s, dir) => {
      val d = docs(s, dir)
        .select($"doc_id", $"text".cast("binary").as("media"))
      graft.multimodal.Multimodal
        .mediaFeatures(d, "media", "feat", dim = 16)
        .select($"doc_id", posexplode($"feat"))
        .toDF("doc_id", "pos", "val")
        .select($"doc_id", $"pos",
          (floor($"val".cast("double") * 10000 + 0.5) / 10000).as("val"))
        .orderBy($"doc_id", $"pos")
    }),

    // Perceptual image dedup: binary payloads → integer luminance grid
    // → dHash64 → hamming-banded pair join (the SimHash chunk
    // machinery). Gate face runs the deterministic stub grid (text
    // bytes as media, like q_multimodal_features) so DuckDB restates
    // the FULL chain — stripe-hash grid, dHash bits, 16-bit chunk
    // banding, exact hamming verify; the REAL javax.imageio path runs
    // the same code over decoded pixels (MultimodalSpec: two
    // near-identical PNGs land within hamming 3).
    "q_image_dedup" -> ((s, dir) => {
      val d = docs(s, dir).where(length($"text") > 0)
        .select($"doc_id", $"text".cast("binary").as("media"))
      graft.multimodal.PerceptualHash
        .imageDupPairs(d, "doc_id", "media", maxHamming = 3)
        .orderBy($"i", $"j")
    }),

    // Exact embedding-cosine near-dup pairs. tau=0.55 sits inside the
    // bulk of this table's distance distribution (nearest non-pair is
    // 0.0004 beyond the threshold at sf0.1), so NO sub-quadratic
    // method can be exact here — the registered implementation is the
    // blocked self-join: quadratic compute in a shape that distributes
    // (no full-table broadcast, per-task memory bounded by the block
    // size). The sub-quadratic LSH path is registered separately on
    // the tight-dup regime it is sound for (q_embdup_cos_lsh).
    "q_embdup_cos" -> ((s, dir) =>
      Dedup.embeddingDupPairs(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", tau = 0.55)
        .select($"i", $"j", round($"cd", 4).as("cd"))
        .orderBy($"i", $"j")),

    // Scale path: hyperplane-LSH embedding dedup in its production
    // regime — recovering corrupted near-copies (cos_dist ~ 1e-7
    // planted by a float-exact 2^-10 perturbation of every 10th
    // vector; nearest genuine pair is at 0.399, a ~6-decade margin).
    // Recall is certain: a planted pair subtends theta <= 0.001 rad,
    // so P[one 16-bit probe misses] <= 1-(1-0.001/pi)^16 ~ 0.0051 and
    // P[all 4 probes miss] <= 7e-10 per pair. The oracle is the
    // exact O(n²) join over the same derived corpus — LSH output must
    // match it row for row.
    "q_embdup_cos_lsh" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings").select($"vec_id", $"embedding")
      val pert = emb.where($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          transform($"embedding", (x, i) =>
            when(i === 0,
              (x.cast("double") * lit(1.0009765625d)).cast("float"))
              .otherwise(x)).as("embedding"))
      Dedup.embeddingDupPairsLsh(emb.unionAll(pert), "vec_id", "embedding",
        tau = 0.01, numBits = 16, probes = 4)
        .select($"i", $"j", round($"cd", 4).as("cd"))
        .orderBy($"i", $"j")
    }),

    // Corpus length distribution per language (training-data QA:
    // exact interpolated percentiles, partial-agg via percentile's
    // native aggregation buffer).
    "q_doc_percentiles" -> ((s, dir) =>
      viaSql(s, dir,
        """SELECT lang,
          | percentile(n_chars, 0.25) AS p25,
          | percentile(n_chars, 0.5) AS p50,
          | percentile(n_chars, 0.75) AS p75,
          | percentile(n_chars, 0.95) AS p95,
          | count(*) AS n
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Stratified deterministic sampling: every 10th document per
    // language by id-rank — the portable analog of per-stratum
    // ORDER BY RANDOM() sampling (X4), reproducible across engines
    // and cluster sizes.
    "q_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"doc_id")
      docs(s, dir)
        .select($"doc_id", $"lang", row_number().over(w).as("rn"))
        .where($"rn" % 10 === 1)
        .select($"doc_id", $"lang", $"rn")
        .orderBy($"doc_id")
    }),

    // STRING edit-distance near-dup (typo/OCR variant collapse): the
    // character-level member of the dedup family, between exact
    // (q_dedup_exact) and token-set Jaccard (q_jaccard_dups). Full
    // semantics — ALL distinct part names within Levenshtein 2, found
    // via PassJoin segment signatures (never all-pairs), verified by
    // the engine's codegen levenshtein; DuckDB restates the SEMANTICS
    // as a length-filtered self-join, so the signature scheme's
    // completeness is hash-checked, not assumed.
    "q_editdist_dups" -> ((s, dir) =>
      graft.operators.EditDistanceJoin
        .pairs(Tables(s, dir, "part"), "p_name", 2)
        .toDF("name_a", "name_b", "ed")
        .orderBy($"name_a", $"name_b")),

    // The adversarial-skew variant: 1500 customer names sharing the
    // 9-char "Customer#" prefix, so one segment key buckets the whole
    // corpus — the worst case for signature joins (the candidate set
    // degenerates toward all-pairs because the DATA is near-identical,
    // not because the scheme over-generates). 19.5k true ed=1 pairs
    // (single-digit typos) must all surface.
    "q_editdist_typos" -> ((s, dir) =>
      graft.operators.EditDistanceJoin
        .pairs(Tables(s, dir, "customer"), "c_name", 1)
        .toDF("name_a", "name_b", "ed")
        .orderBy($"name_a", $"name_b")),

    // BPE vocabulary INDUCTION (Sennrich 2016) — learn the first 12
    // merges from the document corpus. The corpus is scanned once
    // (word counts); every merge round runs on the vocabulary-bounded
    // word table. Deterministic by the (count desc, pair asc)
    // tie-break, so the full merge table hash-checks against DuckDB
    // executing the same 12 unrolled rounds (greedy fuse restated as
    // a list_reduce fold — provably the same left-to-right
    // non-overlapping semantics, see BpeTrainSpec).
    "q_bpe_merges" -> ((s, dir) =>
      graft.operators.BpeTrain.learnMerges(docs(s, dir), "text", 12)
        .orderBy($"merge_rank"))
  )

  // DuckDB restatement of SimHash64 (TextHashExpressions.scala): FNV-1a
  // over UTF-8 bytes (hex-decoded; wrapping 64-bit multiply emulated
  // with HUGEINT mod 2^64 and mapped back to two's complement), +/-1
  // bit votes, then the pair join. The chunk-equality disjunction
  // mirrors the implementation's 4x16-bit pigeonhole banding: beyond
  // hamming 3 the banding is a candidate FILTER, not just an
  // optimization, so the oracle states it explicitly.
  /** The BPE merge-learning oracle: 12 unrolled rounds. Each round's
    * pair census unnests the space-joined symbol string, the argmax
    * carries the operator's (count desc, pair asc) tie-break, and the
    * fuse is a list_reduce fold — merge when the accumulator's LAST
    * token equals lhs and the incoming symbol equals rhs, which is
    * exactly left-to-right non-overlapping pairing because a merged
    * symbol lhs||rhs can never re-match lhs (rhs is nonempty).
    * MATERIALIZED is load-bearing: inlined CTEs re-evaluate the whole
    * prefix chain per round (measured 289 s vs 0.1 s at sf0.01).
    */
  private val bpeOracle: String = {
    val m = 12
    val sb = new StringBuilder
    sb ++= """WITH w0 AS MATERIALIZED (
      |  SELECT array_to_string(list_append(list_transform(
      |      range(1, length(w)+1), i -> substr(w, i, 1)), '</w>'), ' ')
      |    AS wstr, cnt FROM (
      |    SELECT w, count(*) AS cnt FROM (
      |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |      FROM documents WHERE text IS NOT NULL) GROUP BY w))""".stripMargin
    for (n <- 1 to m) {
      sb ++= s""",
        |p$n AS (
        |  SELECT pr.l AS l, pr.r AS r, sum(cnt) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(s)),
        |      i -> struct_pack(l := s[i], r := s[i+1]))) AS pr, cnt
        |    FROM (SELECT string_split(wstr, ' ') AS s, cnt FROM w${n - 1}))
        |  GROUP BY 1, 2),
        |b$n AS MATERIALIZED (
        |  SELECT l, r, c FROM p$n ORDER BY c DESC, l, r LIMIT 1)""".stripMargin
      if (n < m) sb ++= s""",
        |w$n AS MATERIALIZED (
        |  SELECT list_reduce(string_split(w.wstr, ' '), (acc, x) -> CASE
        |      WHEN (acc = b.l OR ends_with(acc, ' ' || b.l)) AND x = b.r
        |      THEN substr(acc, 1, length(acc) - length(b.l)) || b.l || b.r
        |      ELSE acc || ' ' || x END) AS wstr, w.cnt
        |  FROM w${n - 1} w CROSS JOIN b$n b)""".stripMargin
    }
    sb ++= "\n" + (1 to m).map(n =>
      s"SELECT $n AS merge_rank, l AS lhs, r AS rhs, " +
        s"CAST(c AS BIGINT) AS pair_count FROM b$n")
      .mkString("\nUNION ALL\n")
    sb ++= "\nORDER BY merge_rank"
    sb.toString
  }

  private val simhashOracle: String = {
    val wrap = "((((CAST(xor(a, b) AS HUGEINT) * 1099511628211) % " +
      "18446744073709551616) + 18446744073709551616) % 18446744073709551616)"
    val step = s"CASE WHEN $wrap >= 9223372036854775808 " +
      s"THEN $wrap - 18446744073709551616 ELSE $wrap END"
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE text IS NOT NULL),
       |fnv AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(-3750763034362895579 AS BIGINT),
       |      list_transform(range(1, octet_length(encode(tok))+1), i ->
       |        CAST(16*(instr('0123456789ABCDEF',
       |            substr(hex(encode(tok)), 2*i-1, 1))-1)
       |          + (instr('0123456789ABCDEF',
       |            substr(hex(encode(tok)), 2*i, 1))-1) AS BIGINT))),
       |    (a, b) -> CAST($step AS BIGINT)) AS h
       |  FROM toks),
       |bits AS (
       |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
       |  FROM fnv, (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
       |sim AS (
       |  SELECT doc_id, CAST(sum(CASE WHEN acc > 0 THEN
       |    (CASE WHEN b = 63 THEN -9223372036854775808
       |     ELSE 1::BIGINT << CAST(b AS INT) END)
       |    ELSE 0 END) AS BIGINT) AS s
       |  FROM bits GROUP BY doc_id)
       |SELECT a.doc_id AS i, b.doc_id AS j,
       |  CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s, b.s)) <= 10
       |  AND ((xor(a.s, b.s) & 65535) = 0
       |    OR ((xor(a.s, b.s) >> 16) & 65535) = 0
       |    OR ((xor(a.s, b.s) >> 32) & 65535) = 0
       |    OR ((xor(a.s, b.s) >> 48) & 65535) = 0)
       |ORDER BY i, j""".stripMargin
  }

  /** DuckDB restatement of the winnowing face: 3-gram strings rebuilt
    * from the split (single-space join reproduces the original bytes),
    * FNV-1a per gram via the same hex-byte fold as [[simhashOracle]],
    * then rightmost-min-per-window selection as a row_number over a
    * bounded (start × offset) join — chosen positions are provably
    * non-decreasing in the window start, so DISTINCT equals the
    * operator's consecutive dedup. Spark emits 0-based gram positions;
    * the 1-based SQL index is shifted to match.
    */
  private def winnowSelCtes: String = {
    val wrap = "((((CAST(xor(a, b) AS HUGEINT) * 1099511628211) % " +
      "18446744073709551616) + 18446744073709551616) % 18446744073709551616)"
    val step = s"CASE WHEN $wrap >= 9223372036854775808 " +
      s"THEN $wrap - 18446744073709551616 ELSE $wrap END"
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |gm AS (
       |  SELECT doc_id, i,
       |    array_to_string(list_slice(ws, i, i + 2), ' ') AS g
       |  FROM (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS i, ws
       |        FROM w WHERE len(ws) >= 3) _g),
       |g AS MATERIALIZED (
       |  SELECT doc_id, i, list_reduce(
       |    list_prepend(CAST(-3750763034362895579 AS BIGINT),
       |      list_transform(range(1, octet_length(encode(g))+1), bi ->
       |        CAST(16*(instr('0123456789ABCDEF',
       |            substr(hex(encode(g)), 2*bi-1, 1))-1)
       |          + (instr('0123456789ABCDEF',
       |            substr(hex(encode(g)), 2*bi, 1))-1) AS BIGINT))),
       |    (a, b) -> CAST($step AS BIGINT)) AS h
       |  FROM gm),
       |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |starts AS (
       |  SELECT doc_id, unnest(range(1, n - 2)) AS s
       |  FROM cnt WHERE n >= 4),
       |sel AS MATERIALIZED (
       |  SELECT doc_id, i, h FROM (
       |    SELECT st.doc_id, g.i, g.h,
       |      row_number() OVER (PARTITION BY st.doc_id, st.s
       |        ORDER BY g.h ASC, g.i DESC) AS rn
       |    FROM starts st
       |    JOIN g ON g.doc_id = st.doc_id
       |      AND g.i BETWEEN st.s AND st.s + 3) _ WHERE rn = 1)""".stripMargin
  }

  private val winnowOracle: String =
    s"""$winnowSelCtes
       |SELECT DISTINCT doc_id, CAST(i - 1 AS INT) AS pos, h AS fp
       |FROM sel ORDER BY doc_id, pos""".stripMargin

  /** Overlap restatement: distinct (doc, fp), document-frequency cap at
    * 50, pair counts over the fingerprint bucket join, Jaccard over the
    * kept sets with the portable floor rounding.
    */
  private val winnowOverlapOracle: String =
    s"""$winnowSelCtes,
       |fps AS (SELECT DISTINCT doc_id, h FROM sel),
       |dfc AS (SELECT h FROM fps GROUP BY h HAVING count(*) <= 50),
       |kept AS MATERIALIZED (
       |  SELECT fps.doc_id, fps.h FROM fps JOIN dfc USING (h)),
       |sz AS (SELECT doc_id, count(*) AS nf FROM kept GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS shared
       |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i, j, CAST(shared AS BIGINT) AS shared,
       |  floor(CAST(shared AS DOUBLE) / (sa.nf + sb.nf - shared)
       |    * 10000 + 0.5) / 10000 AS overlap
       |FROM pairs JOIN sz sa ON sa.doc_id = i JOIN sz sb ON sb.doc_id = j
       |WHERE shared >= 5 ORDER BY i, j""".stripMargin

  // DuckDB restatement of Multimodal.StubDecoder.features over the
  // documents' UTF-8 bytes: splitmix64 (mix64) per byte emulated with
  // HUGEINT wrap-multiplies and logical shifts, WRAPPING LONG stripe
  // accumulation (order-insensitive by construction, so DuckDB's
  // aggregation order cannot diverge), then the fixed-order 16-dim
  // normalize and the float projection.
  /** Full restatement of the stub-decoder dHash dedup chain: mix64
    * stripe accumulation into a 72-cell signed-long grid (the same
    * wrapping arithmetic as multimodalOracle, at grid size), dHash
    * bits as exact integer comparisons of horizontally adjacent cells,
    * 4×16-bit chunk keys, pigeonhole candidate join, exact hamming
    * verification — the byte-for-byte mirror of
    * PerceptualHash.imageDupPairs over StubDecoder.grayGrid.
    */
  private val imageDedupOracle: String = {
    val T = "18446744073709551616"
    val H = "9223372036854775808"
    def wrapMul(z: String, c: Long): String = {
      val m = s"((((CAST(($z) AS HUGEINT) * ($c)) % $T) + $T) % $T)"
      s"CAST(CASE WHEN $m >= $H THEN $m - $T ELSE $m END AS BIGINT)"
    }
    def lshr(z: String, k: Int): String =
      s"((($z) >> $k) & ${(1L << (64 - k)) - 1})"
    val c1 = -7046029254386353131L
    val c2 = -4658895280553007687L
    val c3 = -7723592293110705685L
    val z2 = wrapMul(s"xor(z1, ${lshr("z1", 30)})", c2)
    val z3 = wrapMul(s"xor(z2, ${lshr("z2", 27)})", c3)
    val h = s"xor(z3, ${lshr("z3", 31)})"
    val accSigned = s"CASE WHEN sacc >= $H THEN sacc - $T ELSE sacc END"
    s"""WITH pre AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       |idx AS (
       |  SELECT doc_id, hx, unnest(range(1, n + 1)) AS i FROM pre),
       |bytes AS (
       |  SELECT doc_id, i - 1 AS i0,
       |    CAST(16*(instr('0123456789ABCDEF',
       |        substr(hx, CAST(2*i-1 AS INT), 1))-1)
       |      + (instr('0123456789ABCDEF',
       |        substr(hx, CAST(2*i AS INT), 1))-1) AS BIGINT) AS b
       |  FROM idx),
       |m1 AS (SELECT doc_id, i0, xor(b, i0 << 8) + ($c1) AS z1 FROM bytes),
       |m2 AS (SELECT doc_id, i0, $z2 AS z2 FROM m1),
       |m3 AS (SELECT doc_id, i0, $z3 AS z3 FROM m2),
       |hv AS (SELECT doc_id, i0 % 72 AS pos, $h AS h FROM m3),
       |acc0 AS (
       |  SELECT doc_id, pos,
       |    ((CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT) % $T) + $T) % $T AS sacc
       |  FROM hv GROUP BY doc_id, pos),
       |grid AS (
       |  SELECT p.doc_id, g.pos
       |  FROM (SELECT doc_id FROM pre) p,
       |       (SELECT unnest(range(0, 72)) AS pos) g),
       |acc AS MATERIALIZED (
       |  SELECT grid.doc_id, grid.pos,
       |    COALESCE(CAST($accSigned AS BIGINT), 0) AS a
       |  FROM grid LEFT JOIN acc0
       |    ON acc0.doc_id = grid.doc_id AND acc0.pos = grid.pos),
       |bits AS MATERIALIZED (
       |  SELECT l.doc_id,
       |    CAST((l.pos // 9) * 8 + (l.pos % 9) AS INT) AS b,
       |    CASE WHEN r.a > l.a THEN 1 ELSE 0 END AS bit
       |  FROM acc l JOIN acc r
       |    ON r.doc_id = l.doc_id AND r.pos = l.pos + 1
       |  WHERE l.pos % 9 < 8),
       |chunks AS (
       |  SELECT doc_id, CAST(b // 16 AS INT) AS chunk,
       |    CAST(sum(CAST(bit AS BIGINT) << CAST(b % 16 AS INT)) AS BIGINT)
       |      AS ckey
       |  FROM bits GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |  FROM chunks a JOIN chunks b
       |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id),
       |ham AS (
       |  SELECT c.i, c.j,
       |    CAST(sum(CASE WHEN bi.bit != bj.bit THEN 1 ELSE 0 END) AS INT)
       |      AS hamming
       |  FROM cand c
       |  JOIN bits bi ON bi.doc_id = c.i
       |  JOIN bits bj ON bj.doc_id = c.j AND bj.b = bi.b
       |  GROUP BY 1, 2)
       |SELECT i, j, hamming FROM ham WHERE hamming <= 3
       |ORDER BY i, j""".stripMargin
  }

  private val multimodalOracle: String = {
    val T = "18446744073709551616"
    val H = "9223372036854775808"
    def wrapMul(z: String, c: Long): String = {
      val m = s"((((CAST(($z) AS HUGEINT) * ($c)) % $T) + $T) % $T)"
      s"CAST(CASE WHEN $m >= $H THEN $m - $T ELSE $m END AS BIGINT)"
    }
    def lshr(z: String, k: Int): String =
      s"((($z) >> $k) & ${(1L << (64 - k)) - 1})"
    val c1 = -7046029254386353131L // 0x9e3779b97f4a7c15 as signed
    val c2 = -4658895280553007687L // 0xbf58476d1ce4e5b9
    val c3 = -7723592293110705685L // 0x94d049bb133111eb
    val z2 = wrapMul(s"xor(z1, ${lshr("z1", 30)})", c2)
    val z3 = wrapMul(s"xor(z2, ${lshr("z2", 27)})", c3)
    val h = s"xor(z3, ${lshr("z3", 31)})"
    val accSigned = s"CASE WHEN sacc >= $H THEN sacc - $T ELSE sacc END"
    s"""WITH pre AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |         octet_length(encode(text)) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |idx AS (
       |  SELECT doc_id, hx, unnest(range(1, n + 1)) AS i FROM pre WHERE n > 0),
       |bytes AS (
       |  SELECT doc_id, i - 1 AS i0,
       |    CAST(16*(instr('0123456789ABCDEF',
       |        substr(hx, CAST(2*i-1 AS INT), 1))-1)
       |      + (instr('0123456789ABCDEF',
       |        substr(hx, CAST(2*i AS INT), 1))-1) AS BIGINT) AS b
       |  FROM idx),
       |m1 AS (SELECT doc_id, i0, xor(b, i0 << 8) + ($c1) AS z1 FROM bytes),
       |m2 AS (SELECT doc_id, i0, $z2 AS z2 FROM m1),
       |m3 AS (SELECT doc_id, i0, $z3 AS z3 FROM m2),
       |hv AS (SELECT doc_id, i0 % 16 AS pos, $h AS h FROM m3),
       |acc0 AS (
       |  SELECT doc_id, pos,
       |    ((CAST(sum(CAST(h AS HUGEINT)) AS HUGEINT) % $T) + $T) % $T AS sacc
       |  FROM hv GROUP BY doc_id, pos),
       |grid AS (
       |  SELECT p.doc_id, g.pos
       |  FROM (SELECT DISTINCT doc_id FROM idx) p,
       |       (SELECT unnest(range(0, 16)) AS pos) g),
       |acc AS (
       |  SELECT grid.doc_id, grid.pos,
       |    COALESCE(CAST($accSigned AS BIGINT), 0) AS a
       |  FROM grid LEFT JOIN acc0
       |    ON acc0.doc_id = grid.doc_id AND acc0.pos = grid.pos),
       |proj AS (
       |  SELECT doc_id, pos,
       |    CAST(a AS DOUBLE) / 9223372036854775807 AS x FROM acc),
       |nrm AS (
       |  SELECT doc_id,
       |    sqrt(list_sum(list_transform(list(x ORDER BY pos), v -> v * v)))
       |      AS norm
       |  FROM proj GROUP BY doc_id),
       |vals AS (
       |  SELECT p.doc_id, CAST(p.pos AS INT) AS pos,
       |    floor(CAST(CAST(p.x / n.norm AS REAL) AS DOUBLE) * 10000 + 0.5)
       |      / 10000 AS val
       |  FROM proj p JOIN nrm n ON n.doc_id = p.doc_id),
       |sentinel AS (
       |  SELECT doc_id, CAST(g.pos AS INT) AS pos, -1.0 AS val
       |  FROM (SELECT doc_id FROM documents
       |        WHERE text IS NULL OR octet_length(encode(text)) = 0) s,
       |       (SELECT unnest(range(0, 16)) AS pos) g(pos))
       |SELECT doc_id, pos, val FROM vals
       |UNION ALL
       |SELECT doc_id, pos, val FROM sentinel
       |ORDER BY doc_id, pos""".stripMargin
  }

  private val jaccardOracle =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      |  FROM w WHERE len(ws) >= 3)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 3) AS jac
      |FROM pairs JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
      |ORDER BY i, j""".stripMargin

  // Jaccard pair graph → connected components by K unrolled rounds of
  // min-label propagation (each round: every vertex takes the min of
  // its own and its neighbors' labels). K=12 covers any component of
  // diameter <= 12 — near-dup clusters are near-cliques (diameter 1-2
  // observed), but template-drift chains d1~d2~...~dk can stretch the
  // diameter, so the margin is deliberately wide; the Spark side is
  // exact at any diameter (union-find, or star rounds to convergence).
  // MATERIALIZED is load-bearing: each step references the previous
  // one twice (union + join), so DuckDB's default CTE inlining would
  // expand 2^K copies of the whole pair pipeline — thousands of
  // parquet re-opens (fd exhaustion) before any work happens.
  private[queries] val componentsOracleSql: String = {
    val k = 12
    val steps = (1 to k).map { s =>
      s"""l$s AS MATERIALIZED (SELECT x.v, min(x.l) AS l FROM (
         |  SELECT v, l FROM l${s - 1}
         |  UNION ALL
         |  SELECT e.a AS v, p.l FROM e JOIN l${s - 1} p ON p.v = e.b) x
         |  GROUP BY x.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
       |  FROM w WHERE len(ws) >= 3)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT i, j
       |  FROM pairs JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
       |e AS MATERIALIZED (SELECT i AS a, j AS b FROM dup
       |      UNION ALL SELECT j AS a, i AS b FROM dup),
       |l0 AS MATERIALIZED (SELECT DISTINCT a AS v, a AS l FROM e),
       |$steps
       |SELECT v AS doc_id, l AS component FROM l$k ORDER BY doc_id""".stripMargin
  }

  /** The component CTE chain of [[componentsOracleSql]] without the
    * final SELECT, for oracles that COMPOSE the near-dup components
    * (l12 holds (v, l) = vertex -> component min-label at fixpoint for
    * every vertex that appears in some dup pair).
    */
  private def componentsCtePrefix: String = {
    val full = componentsOracleSql
    full.substring(0, full.lastIndexOf("SELECT v AS doc_id"))
      .stripSuffix("\n")
  }

  private val cleanCorpusOracle = {
    val qualityCte = TA.qualitySql(TA.DuckDialect, "docs_f")
    s"""WITH docs_f AS (
       |  SELECT doc_id, text, lang FROM documents
       |  WHERE text IS NOT NULL AND text != ''
       |    AND text != 'Error: Summary failed (llm)' AND trim(text) != ''),
       |qual AS ($qualityCte),
       |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM docs_f),
       |sh AS (SELECT DISTINCT doc_id, g FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
       |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
       |  FROM w WHERE len(ws) >= 3)),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |removed AS (
       |  SELECT DISTINCT j AS doc_id
       |  FROM pairs JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
       |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5)
       |SELECT d.doc_id, d.lang, q.quality
       |FROM docs_f d JOIN qual q USING (doc_id)
       |WHERE q.quality >= 0.5
       |  AND d.doc_id NOT IN (SELECT doc_id FROM removed)
       |ORDER BY d.doc_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_clean_corpus" -> cleanCorpusOracle,
    "q_text_stats" -> TA.statsSql(TA.DuckDialect),
    "q_quality_score" -> TA.qualitySql(TA.DuckDialect),
    "q_langid" -> TA.langidSql(TA.DuckDialect),
    "q_fingerprint" -> TA.fingerprintSql(TA.DuckDialect),
    "q_winnow" -> winnowOracle,
    "q_winnow_overlap" -> winnowOverlapOracle,
    "q_ignore_filter" ->
      """SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents
        |WHERE text IS NOT NULL AND text != ''
        |  AND text != 'Error: Summary failed (llm)' AND trim(text) != ''
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_dedup_exact" ->
      """SELECT d.doc_id, g.kept_id, g.cnt FROM documents d JOIN (
        |  SELECT md5(text) AS h, min(doc_id) AS kept_id, count(*) AS cnt
        |  FROM documents GROUP BY 1) g
        |ON md5(d.text) = g.h ORDER BY d.doc_id""".stripMargin,
    "q_jaccard_dups" -> jaccardOracle,
    "q_minhash_dups" -> jaccardOracle,
    // directed pairs, intersection over the LEFT side's shingle count
    "q_containment_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, round(CAST(c AS DOUBLE) / ca.n, 3) AS cont
        |FROM pairs JOIN cnt ca ON ca.doc_id = i
        |WHERE CAST(c AS DOUBLE) / ca.n >= 0.8
        |ORDER BY i, j""".stripMargin,
    // histogram over the same unrolled component fixpoint
    "q_dup_cluster_sizes" ->
      s"""$componentsCtePrefix,
        |comp AS (SELECT v, l FROM l12)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM (SELECT l, count(*) AS cluster_size FROM comp GROUP BY l) t
        |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // SNM restated end to end: same normalization, same per-block
    // row_number (skey, id tie-break), same rank-distance window,
    // Jaccard verified on candidates only
    "q_snm_dups" ->
      """WITH k AS (
        |  SELECT doc_id AS id,
        |    regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS skey
        |  FROM documents),
        |k2 AS (SELECT id, skey, substr(skey, 1, 8) AS block
        |       FROM k WHERE length(skey) > 0),
        |r AS (SELECT id, block,
        |  row_number() OVER (PARTITION BY block ORDER BY skey, id) AS rn
        |  FROM k2),
        |cand AS (SELECT DISTINCT least(a.id, b.id) AS i,
        |    greatest(a.id, b.id) AS j
        |  FROM r a JOIN r b ON a.block = b.block
        |    AND b.rn > a.rn AND b.rn <= a.rn + 10),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT c.i, c.j, count(*) AS c
        |  FROM cand c JOIN sh a ON a.doc_id = c.i
        |  JOIN sh b ON b.doc_id = c.j AND b.g = a.g
        |  GROUP BY c.i, c.j)
        |SELECT i, j, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 3) AS jac
        |FROM inter JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
        |ORDER BY i, j""".stripMargin,
    // same computation, DuckDB list idioms
    "q_pair_explain" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM documents WHERE length(trim(text)) > 0),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pick AS (
        |  SELECT p.i, p.j, p.c, ca.n AS n_i, cb.n AS n_j
        |  FROM pairs p JOIN cnt ca ON ca.doc_id = p.i
        |  JOIN cnt cb ON cb.doc_id = p.j
        |  WHERE CAST(p.c AS DOUBLE) / (ca.n + cb.n - p.c) >= 0.5
        |  ORDER BY p.i, p.j LIMIT 1)
        |SELECT k.i, k.j, CAST(k.n_i AS BIGINT) AS n_i,
        |  CAST(k.n_j AS BIGINT) AS n_j, CAST(k.c AS BIGINT) AS shared,
        |  round(CAST(k.c AS DOUBLE) / (k.n_i + k.n_j - k.c), 3)
        |    AS jac,
        |  round(CAST(k.c AS DOUBLE) / k.n_i, 3) AS cont_ij,
        |  round(CAST(k.c AS DOUBLE) / k.n_j, 3) AS cont_ji,
        |  array_to_string(list_slice(list_sort(list(a.g)), 1, 3), '|')
        |    AS sample_grams
        |FROM pick k
        |JOIN sh a ON a.doc_id = k.i
        |JOIN sh b ON b.doc_id = k.j AND b.g = a.g
        |GROUP BY k.i, k.j, k.n_i, k.n_j, k.c""".stripMargin,
    // cross-corpus containment: incoming = odd ids, resident = even;
    // intersection over the INCOMING side's shingle count
    "q_containment_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g
        |    AND a.doc_id % 2 != 0 AND b.doc_id % 2 = 0
        |  GROUP BY 1, 2)
        |SELECT new_id, old_id,
        |  round(CAST(c AS DOUBLE) / ca.n, 3) AS cont
        |FROM pairs JOIN cnt ca ON ca.doc_id = new_id
        |WHERE CAST(c AS DOUBLE) / ca.n >= 0.8
        |ORDER BY new_id, old_id""".stripMargin,
    // the tuner is pure math on literals: same divisor enumeration,
    // same 200-point midpoint grid, same rounding discipline (fp and
    // fn rounded to 4 before the cost sum, exactly as the Spark side)
    "q_lsh_tune" ->
      """WITH rs AS (
        |  SELECT CAST(r AS INT) AS r, CAST(128 // r AS INT) AS b
        |  FROM range(1, 129) t(r) WHERE 128 % r = 0),
        |areas AS (
        |  SELECT r, b,
        |    round(pow(1.0 / b, 1.0 / r), 4) AS s_mid,
        |    round(list_sum(list_transform(range(0, 200),
        |      i -> CASE WHEN (i + 0.5) / 200 < 0.5
        |        THEN 1.0 - pow(1.0 - pow((i + 0.5) / 200, r), b)
        |        ELSE 0.0 END)) / 200, 4) AS fp,
        |    round(list_sum(list_transform(range(0, 200),
        |      i -> CASE WHEN (i + 0.5) / 200 >= 0.5
        |        THEN pow(1.0 - pow((i + 0.5) / 200, r), b)
        |        ELSE 0.0 END)) / 200, 4) AS fn
        |  FROM rs)
        |SELECT r, b, s_mid, fp, fn, round(fp + fn, 4) AS cost
        |FROM areas ORDER BY r""".stripMargin,
    "q_leakage_split_neardup" ->
      s"""$componentsCtePrefix,
        |comp AS (SELECT v, l FROM l12)
        |SELECT doc_id, rep_id, u,
        |  CASE WHEN u < 900000 THEN 'train'
        |       WHEN u < 950000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id, rep_id,
        |    ((rep_id % 1000000) * 2246822519 + 40503) % 1000000 AS u
        |  FROM (
        |    SELECT d.doc_id, coalesce(c.l, d.doc_id) AS rep_id
        |    FROM documents d LEFT JOIN comp c ON c.v = d.doc_id) _r) _u
        |ORDER BY doc_id""".stripMargin,

    // capped face: exact Jaccard over the boilerplate-augmented corpus,
    // minus the planted cluster's internal pairs (their band keys are
    // all above the df-cap, so the Spark side drops them by design)
    "q_minhash_skew_capped" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT 9000000 + i AS doc_id,
        |         trim(repeat('boilerplate ', 60)) AS text
        |  FROM range(50) t(i)),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
        |sh AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 3) AS jac
        |FROM pairs JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
        |  AND NOT (i >= 9000000 AND j >= 9000000)
        |ORDER BY i, j""".stripMargin,
    // cross-side restatement of jaccardOracle: incoming (doc_id%5=0)
    // paired only against the existing corpus (the rest)
    "q_incremental_dedup" -> incrementalOracle,
    // bloom pruning is an execution strategy; pairs are identical
    "q_incremental_dedup_bloom" -> incrementalOracle,
    // Sequential 3-batch replay: near-dup pair graph (exact Jaccard,
    // both directions), then batch 0 dedups within itself, batch 1
    // against batch-0 SURVIVORS + itself, batch 2 against survivors of
    // both + itself — the windowed restatement of the streaming index
    // semantics (index holds survivors only; within-batch uses the
    // full batch).
    "q_dedup_stream_replay" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
        |  FROM w WHERE len(ws) >= 3)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |prs AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
        |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id != b.doc_id
        |  GROUP BY 1, 2),
        |pr AS MATERIALIZED (
        |  SELECT i, j FROM prs
        |  JOIN cnt ca ON ca.doc_id = i JOIN cnt cb ON cb.doc_id = j
        |  WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5),
        |d0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |d1 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |d2 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
        |s0 AS MATERIALIZED (SELECT doc_id FROM d0 WHERE doc_id NOT IN (
        |  SELECT pr.j FROM pr JOIN d0 a ON pr.i = a.doc_id
        |  JOIN d0 b ON pr.j = b.doc_id WHERE pr.i < pr.j)),
        |s1 AS MATERIALIZED (SELECT doc_id FROM d1 WHERE doc_id NOT IN (
        |  SELECT pr.i FROM pr JOIN d1 x ON pr.i = x.doc_id
        |  JOIN s0 y ON pr.j = y.doc_id
        |  UNION
        |  SELECT pr.j FROM pr JOIN d1 a ON pr.i = a.doc_id
        |  JOIN d1 b ON pr.j = b.doc_id WHERE pr.i < pr.j)),
        |s2 AS (SELECT doc_id FROM d2 WHERE doc_id NOT IN (
        |  SELECT pr.i FROM pr JOIN d2 x ON pr.i = x.doc_id
        |  JOIN (SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1) y
        |    ON pr.j = y.doc_id
        |  UNION
        |  SELECT pr.j FROM pr JOIN d2 a ON pr.i = a.doc_id
        |  JOIN d2 b ON pr.j = b.doc_id WHERE pr.i < pr.j))
        |SELECT doc_id, batch_id FROM (
        |  SELECT doc_id, 0 AS batch_id FROM s0
        |  UNION ALL SELECT doc_id, 1 FROM s1
        |  UNION ALL SELECT doc_id, 2 FROM s2) _u
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_components" -> componentsOracleSql,
    // components fixpoint (l12) + per-cluster argmax by (length DESC,
    // id ASC); unpaired docs are their own cluster with keep = 1
    "q_dedup_best_rep" ->
      s"""$componentsCtePrefix,
         |docs_c AS (SELECT d.doc_id,
         |    coalesce(length(d.text), -1) AS sc,
         |    coalesce(l.l, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN l12 l ON l.v = d.doc_id),
         |best AS (SELECT cluster, doc_id AS rep_id FROM (
         |  SELECT cluster, doc_id, row_number() OVER (
         |    PARTITION BY cluster ORDER BY sc DESC, doc_id) AS rn
         |  FROM docs_c) _b WHERE rn = 1)
         |SELECT c.doc_id, c.cluster,
         |  CAST(CASE WHEN c.doc_id = b.rep_id THEN 1 ELSE 0 END AS INT)
         |    AS keep
         |FROM docs_c c JOIN best b ON b.cluster = c.cluster
         |ORDER BY c.doc_id""".stripMargin,
    "q_simhash_dups" -> simhashOracle,
    "q_multimodal_features" -> multimodalOracle,
    "q_image_dedup" -> imageDedupOracle,
    "q_embdup_cos" ->
      s"""SELECT a.vec_id AS i, b.vec_id AS j,
         | round(${dkCos("a.embedding", "b.embedding")}, 4) AS cd
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${dkCos("a.embedding", "b.embedding")} <= 0.55
         |ORDER BY i, j""".stripMargin,
    // double-exact perturbation: float24bits * (1+2^-10) fits in 53
    // bits, so double multiply-then-round-to-REAL equals Spark's
    // float-rounded result bit for bit
    "q_embdup_cos_lsh" ->
      s"""WITH corpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |    list_transform(embedding, (x, i) -> CASE WHEN i = 1
         |      THEN CAST(CAST(x AS DOUBLE) * 1.0009765625 AS REAL)
         |      ELSE x END) AS embedding
         |  FROM embeddings WHERE vec_id % 10 = 0)
         |SELECT a.vec_id AS i, b.vec_id AS j,
         | round(${dkCos("a.embedding", "b.embedding")}, 4) AS cd
         |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
         |WHERE ${dkCos("a.embedding", "b.embedding")} <= 0.01
         |ORDER BY i, j""".stripMargin,
    // quantile_cont and Spark's percentile use the same linear
    // interpolation — verified bit-identical at sf0.01/0.1
    "q_doc_percentiles" ->
      """SELECT lang,
        | quantile_cont(n_chars, 0.25) AS p25,
        | quantile_cont(n_chars, 0.5) AS p50,
        | quantile_cont(n_chars, 0.75) AS p75,
        | quantile_cont(n_chars, 0.95) AS p95,
        | count(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang, rn FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn % 10 = 1 ORDER BY doc_id""".stripMargin,
    // the oracle states the SEMANTICS (all pairs within the distance),
    // not the signature scheme: a length filter + levenshtein verify
    // over the distinct-name self-join — completeness of the PassJoin
    // candidate generation is exactly what the hash compare checks
    "q_editdist_dups" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part
        |  WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS ed
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
        |ORDER BY name_a, name_b""".stripMargin,
    "q_editdist_typos" ->
      """WITH n AS (SELECT DISTINCT c_name FROM customer
        |  WHERE c_name IS NOT NULL)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS ed
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) = 1
        |ORDER BY name_a, name_b""".stripMargin,
    "q_bpe_merges" -> bpeOracle
  )

  private lazy val incrementalOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, g FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
      |  FROM w WHERE len(ws) >= 3)),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS c
      |  FROM sh a JOIN sh b ON a.g = b.g
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
      |  GROUP BY 1, 2)
      |SELECT new_id, old_id, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 3) AS jac
      |FROM pairs JOIN cnt ca ON ca.doc_id = new_id JOIN cnt cb ON cb.doc_id = old_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.5
      |ORDER BY new_id, old_id""".stripMargin
}
