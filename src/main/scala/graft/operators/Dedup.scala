package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.util.{CachedRelations, PlanMemo}

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard (exact), MinHash-LSH (approximate, scale path),
  * SimHash, and embedding-cosine near-dup (exact + LSH-bucketed).
  *
  * Scale design: the exact pairwise methods exist as correctness oracles
  * and for small candidate sets; the LSH variants are the 100 TB path —
  * they shuffle by band/bucket key only, so cost is O(n · bands) plus
  * candidate verification, never O(n²). All hashes are seed-stable.
  *
  * Lifecycle note: operators persist shared intermediates (their
  * self-joins would otherwise recompute lineage per branch); the
  * returned DataFrames depend on those blocks. Callers running many
  * dedups in one long-lived session should call [[releaseCaches]]
  * between them once results are consumed — it unpersists exactly the
  * relations these operators cached (Bench/Verify use the blunter
  * session-wide `spark.catalog.clearCache()`, which is fine when the
  * session is theirs alone).
  */
object Dedup {

  // Every relation the dedup operators persist (memoized or per-call),
  // so [[releaseCaches]] frees exactly these and nothing else.
  private[operators] val caches = new CachedRelations

  /** Unpersist every relation the dedup operators cached in this JVM
    * and reset the plan memos. Targeted alternative to
    * `spark.catalog.clearCache()` for long-lived shared sessions
    * (daemons, HTTP servers): other components' caches survive.
    * Correctness never depends on these caches — a memoized plan whose
    * block was dropped re-persists from lineage on next use.
    */
  def releaseCaches(): Unit = {
    caches.release()
    pairMemo.clear()
    shingleMemo.clear()
    orderedMemo.clear()
    minhashMemo.clear()
    ccAltMemo.clear()
  }

  /** Exact duplicate grouping by md5 of a text column.
    * Output: (id, kept_id, cnt) — kept_id is the smallest id sharing the
    * same text; cnt the group size. Rows with kept_id != id are dups.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(col(textCol))
    val groups = df.groupBy(h.as("h"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("cnt"))
    df.select(col(idCol), h.as("h"))
      .join(groups, "h")
      .select(col(idCol), col("kept_id"), col("cnt"))
  }

  /** Distinct word-n-gram shingles per id: (id, shingles ARRAY<STRING>). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      T.word_shingles(col(textCol), n).as("shingles"))

  /** Exact n-gram Jaccard near-dup pairs (i < j, jac >= tau).
    *
    * Scale design — PPJoin-style prefix filtering (Xiao et al. 2008,
    * "Efficient Similarity Joins for Near Duplicate Detection"): order
    * each doc's shingles by ascending global document frequency; a pair
    * with jac >= tau MUST share at least one shingle among each doc's
    * first (n - ceil(tau*n) + 1) rarest shingles, so the candidate join
    * runs only on those prefixes (rare shingles → tiny join fan-out,
    * no hot-key explosion), and candidates are verified exactly via
    * array intersection. Output is identical to the naive self-join —
    * no false negatives — at a fraction of the shuffle.
    *
    * `maxShingleFreq` additionally drops shingles above a document
    * frequency cap BEFORE pairing (approximation for adversarial
    * corpora; None = exact).
    */
  // jaccardPairs is deterministic in (input plan, params); memoize the
  // PERSISTED result (never driver-collected rows — the pair set of a
  // web-scale corpus is billions of ids and must stay distributed) so
  // the registry queries sharing the documents corpus run the
  // similarity join once per JVM.
  private val pairMemo =
    new PlanMemo[(String, String, Int, Double, Option[Int]), DataFrame](16,
      caches.persist(_, eager = true))

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.5,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    // only the two columns actually read key the memo
    val dfn = df.select(col(idCol), col(textCol))
    pairMemo(dfn, (idCol, textCol, n, tau, maxShingleFreq))(
      jaccardPairsUncached(dfn, idCol, textCol, n, tau, maxShingleFreq))
  }

  // One shingle scan per (corpus, n) per JVM: the exact-Jaccard and
  // MinHash paths (and cleanCorpus through them) all start from the
  // same hashed shingle sets, so the UDF scan is memoized as a
  // persisted DataFrame.
  private val shingleMemo = new PlanMemo[(String, String, Int), DataFrame](
    32, caches.persist(_, eager = false))

  private[operators] def hashedShingleSetsShared(df: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val dfn = df.select(col(idCol), col(textCol))
    shingleMemo(dfn, (idCol, textCol, n))(
      hashedShingleSets(dfn, idCol, textCol, n))
  }

  /** Distinct word-n-gram shingles per id, as 64-bit FNV-1a hashes:
    * (id, hs ARRAY<BIGINT>). One pass per row — words are hashed
    * incrementally into each shingle (FNV is byte-sequential, so this
    * equals hashing the joined string) without materializing shingle
    * strings. The dedup chain downstream (frequency map, prefix join,
    * verification) then moves 8-byte longs instead of multi-byte
    * strings. Hash collisions merge two shingles at ~m²/2⁶⁵
    * probability for m distinct shingles — immaterial at any corpus
    * size this engine targets.
    */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val dfp = Repartitioning.spreadSmallScan(df)
    dfp.select(col(idCol).as("id"),
      T.shingle_hashes(col(textCol), n).as("hs"))
  }

  // sort-merge Jaccard over hashed shingle sets: no boxing, no string
  // hashing; sorting 2 small long arrays beats a hash set here
  private val jaccardHashedU = udf((sa: Seq[Long], sb: Seq[Long]) => {
    val a = sa.toArray; java.util.Arrays.sort(a)
    val b = sb.toArray; java.util.Arrays.sort(b)
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  })

  // Driver-dictionary cutoff for rare-first ordering: below this many
  // distinct shingles the document-frequency map is collected and
  // broadcast (fast, shuffle-free); above it the ordering switches to
  // the join-based path automatically. Test hook: overridable so specs
  // can force the join path on small fixtures.
  private[graft] val DictCapDefault = 2000000L
  @volatile private[graft] var dictCapOverride: Option[Long] = None

  /** Rare-first-ordered hashed shingle sets: (id, hs, n_sh) with each
    * doc's shingles sorted by ascending global document frequency —
    * the ordering both the Jaccard and containment prefix filters
    * depend on. The document frequencies are an aggregate over
    * DISTINCT shingles (not rows): when that aggregate is small it is
    * broadcast into the sort UDF; when it outgrows the driver cap
    * (100 TB corpora: distinct n-grams dwarf any driver) ordering
    * falls back to a join + array_sort — same output, fully
    * distributed. Returned persisted (callers read it 3-4x).
    */
  // One rare-first ordering per (corpus, n, cap) per JVM: the
  // containment family calls this for both sides of every pass (and
  // the bench re-invokes faces), while the pipeline underneath —
  // docFreq aggregation, a count() to pick dictionary vs join
  // ordering, the ordering itself — is deterministic in the input plan.
  private val orderedMemo =
    new PlanMemo[(String, String, Int, Option[Int]), DataFrame](32,
      caches.persist(_, eager = false))

  private def rareFirstOrderedSets(df: DataFrame, idCol: String,
      textCol: String, n: Int,
      maxShingleFreq: Option[Int]): DataFrame = {
    val dfn = df.select(col(idCol), col(textCol))
    orderedMemo(dfn, (idCol, textCol, n, maxShingleFreq))(
      rareFirstOrderedSetsUncached(dfn, idCol, textCol, n,
        maxShingleFreq))
  }

  private def rareFirstOrderedSetsUncached(df: DataFrame, idCol: String,
      textCol: String, n: Int,
      maxShingleFreq: Option[Int]): DataFrame = {
    val spark = df.sparkSession
    val sets0 = hashedShingleSetsShared(df, idCol, textCol, n)
    val docFreq = sets0
      .select(explode(col("hs")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df_g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    val distinctShingles = docFreq.count()
    val cap = maxShingleFreq.map(_.toLong).getOrElse(Long.MaxValue)
    val dictCap = dictCapOverride.getOrElse(DictCapDefault)
    // persisted by the caller: the prefix self-join AND verification,
    // which would otherwise recompute the shingle pipeline 4x
    (if (distinctShingles <= dictCap) {
      val dfMap: Map[Long, Long] = docFreq
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the dictionary replaces the DataFrame on this path — release
      // its cache block instead of waiting for a caller clearCache
      docFreq.unpersist()
      val dfBc = spark.sparkContext.broadcast(dfMap)
      val orderU = udf((hs: Seq[Long]) =>
        hs.filter(h => dfBc.value.getOrElse(h, 1L) <= cap)
          .sortBy(h => (dfBc.value.getOrElse(h, 1L), h)))
      sets0.select(col("id"), orderU(col("hs")).as("hs"))
    } else {
      // join-based ordering: explode → join doc frequency → regroup,
      // sorting (df_g, g) ascending exactly like the dictionary path.
      // Shuffles the shingle stream twice but never materializes the
      // dictionary anywhere.
      val freq = if (maxShingleFreq.isDefined)
        docFreq.where(col("df_g") <= cap) else docFreq
      sets0.select(col("id"), explode(col("hs")).as("g"))
        .join(freq, "g")
        .groupBy(col("id"))
        .agg(transform(
          array_sort(collect_list(struct(col("df_g"), col("g")))),
          x => x("g")).as("hs"))
    })
      .select(col("id"), col("hs"), size(col("hs")).as("n_sh"))
      .where(col("n_sh") > 0)
  }

  private def jaccardPairsUncached(df: DataFrame, idCol: String,
      textCol: String, n: Int, tau: Double,
      maxShingleFreq: Option[Int]): DataFrame = {
    val ordered = rareFirstOrderedSets(df, idCol, textCol, n,
      maxShingleFreq)
    val prefix = ordered.select(col("id"), col("n_sh"),
      posexplode(slice(col("hs"), lit(1),
        (col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1).cast("int")))
        .as(Seq("pos", "g")))
    // length filter (tau*na <= nb <= na/tau) plus PPJoin positional
    // filter: overlap is bounded by the shingles remaining after the
    // matched position, so require
    //   min(na-posA, nb-posB) >= ceil(tau/(1+tau) * (na+nb))
    // 1e-9 slack: the bounds hold mathematically at jac == tau, but
    // tau/(1+tau) and tau*n are rounded doubles — without slack a pair
    // sitting exactly on the boundary could be dropped (the exact
    // verification still decides membership, so slack costs only a
    // few extra candidates)
    val minOverlap =
      ceil(lit(tau / (1 + tau)) * (col("a.n_sh") + col("b.n_sh")) -
        lit(1e-9))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          col("b.n_sh") >= lit(tau) * col("a.n_sh") - lit(1e-9) &&
          col("a.n_sh") >= lit(tau) * col("b.n_sh") - lit(1e-9) &&
          least(col("a.n_sh") - col("a.pos"),
            col("b.n_sh") - col("b.pos")) >= minOverlap)
      .select(col("a.id").as("i"), col("b.id").as("j"))
      .distinct()
    // exact verification on candidates only (sort-merge over hashes)
    val sets = ordered.select(col("id"), col("hs"))
    cands
      .join(sets.select(col("id").as("i"), col("hs").as("sa")), "i")
      .join(sets.select(col("id").as("j"), col("hs").as("sb")), "j")
      .select(col("i"), col("j"),
        jaccardHashedU(col("sa"), col("sb")).as("jac"))
      .where(col("jac") >= tau)
  }

  // sort-merge intersection count over hashed shingle sets, divided by
  // the LEFT set's size — the asymmetric containment C(A→B)
  private val containmentHashedU = udf((sa: Seq[Long], sb: Seq[Long]) => {
    val a = sa.toArray; java.util.Arrays.sort(a)
    val b = sb.toArray; java.util.Arrays.sort(b)
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / a.length
  })

  /** Directed containment pairs: (i, j, cont) with
    * cont = |shingles(i) ∩ shingles(j)| / |shingles(i)| >= tau, i != j.
    *
    * The asymmetric twin of [[jaccardPairs]], for the dup relation
    * Jaccard structurally misses: a short document quoted inside a
    * much longer one has containment ~1 but Jaccard ~|A|/|B| — at 10x
    * length difference it can never clear a 0.5 Jaccard bar. This is
    * the excerpt/quotation/boilerplate-inclusion detector (cf. Broder
    * 1997, "On the resemblance and containment of documents", which
    * defines both measures side by side; CC-Net-style pipelines use
    * the same relation to strip wholesale-quoted sources).
    *
    * Scale shape: prefix filtering applies on the CONTAINED side only
    * — a pair at cont >= tau must share a shingle inside i's first
    * (n_i - ceil(tau*n_i) + 1) rarest shingles, but j's side admits no
    * symmetric prune (any superset qualifies), so the candidate join
    * is i-prefixes (rare shingles, tiny fan-out) against j's FULL
    * posting list — the classic inverted-index probe. The only length
    * constraint is n_j >= tau*n_i (the intersection fits in j).
    * Exact verification on candidates decides membership, so the
    * prefix/posting machinery affects cost, never output.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, tau: Double = 0.8,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val dfn = df.select(col(idCol), col(textCol))
    val ordered = rareFirstOrderedSets(dfn, idCol, textCol, n,
      maxShingleFreq)
    val prefix = ordered.select(col("id"), col("n_sh"),
      explode(slice(col("hs"), lit(1),
        (col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1).cast("int")))
        .as("g"))
    val postings = ordered.select(col("id").as("jd"),
      col("n_sh").as("n_sh_j"), explode(col("hs")).as("g"))
    val cands = prefix.as("a").join(postings.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.jd") &&
          col("b.n_sh_j") >= lit(tau) * col("a.n_sh") - lit(1e-9))
      .select(col("a.id").as("i"), col("b.jd").as("j"))
      .distinct()
    val sets = ordered.select(col("id"), col("hs"))
    cands
      .join(sets.select(col("id").as("i"), col("hs").as("sa")), "i")
      .join(sets.select(col("id").as("j"), col("hs").as("sb")), "j")
      .select(col("i"), col("j"),
        containmentHashedU(col("sa"), col("sb")).as("cont"))
      .where(col("cont") >= tau)
  }

  /** Cross-corpus containment: which `incoming` documents are
    * (mostly) CONTAINED in something already in `existing`? The
    * ingest-time twin of [[containmentPairs]], and the asymmetric
    * sibling of [[dedupAgainst]]: a new crawl batch arrives and must
    * be checked for wholesale quotes/excerpts of the accumulated
    * corpus without re-pairing the corpus with itself.
    *
    * The prefix-filter theorem needs NO global ordering here: if an
    * existing doc shares none of an incoming doc's first
    * (n - ceil(tau*n) + 1) shingles (under ANY fixed per-doc order),
    * the intersection is < tau*n. So the incoming side prefixes under
    * its own rare-first order while the existing side contributes its
    * full posting list — the piece a production pipeline persists
    * once and appends to per batch. Exact verification on candidates
    * decides membership.
    *
    * Output: (new_id, old_id, cont), cont = |new ∩ old| / |new|.
    */
  def containmentAgainst(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int = 3, tau: Double = 0.8,
      maxShingleFreq: Option[Int] = None): DataFrame = {
    val exn = existing.select(col(idCol), col(textCol))
    val inn = incoming.select(col(idCol), col(textCol))
    val inSets = rareFirstOrderedSets(inn, idCol, textCol, n,
      maxShingleFreq)
    val exSets = rareFirstOrderedSets(exn, idCol, textCol, n,
      maxShingleFreq)
    val prefix = inSets.select(col("id").as("new_id"),
      col("n_sh").as("n_new"),
      explode(slice(col("hs"), lit(1),
        (col("n_sh") - ceil(lit(tau) * col("n_sh")) + 1).cast("int")))
        .as("g"))
    val postings = exSets.select(col("id").as("old_id"),
      col("n_sh").as("n_old"), explode(col("hs")).as("g"))
    val cands = prefix.join(postings,
        prefix("g") === postings("g") &&
          col("n_old") >= lit(tau) * col("n_new") - lit(1e-9))
      .select(col("new_id"), col("old_id"))
      .distinct()
    cands
      .join(inSets.select(col("id").as("new_id"), col("hs").as("sa")),
        "new_id")
      .join(exSets.select(col("id").as("old_id"), col("hs").as("sb")),
        "old_id")
      .select(col("new_id"), col("old_id"),
        containmentHashedU(col("sa"), col("sb")).as("cont"))
      .where(col("cont") >= tau)
  }

  /** Sorted-neighborhood near-dup pairs (Hernández & Stolfo 1995,
    * "The merge/purge problem for large databases") — the classic
    * blocking alternative to LSH: records sort by a derived key, and
    * only records within `window` positions of each other are
    * compared. Here the key is the normalized text (lowercased,
    * non-alphanumerics stripped) and the block its first `blockChars`
    * characters, so the sort distributes: row_number runs PER BLOCK,
    * never as one global window, and the candidate join is an
    * equi-join on block with a rank-distance filter — O(n·window)
    * candidates, each exact-verified at `tau` n-gram Jaccard.
    *
    * When to prefer over [[minhashDupPairs]]: corpora whose dups share
    * prefixes (versioned records, templated titles, log lines) get the
    * same recall with no signature computation at all; dups that
    * differ in their first `blockChars` normalized characters are
    * missed by construction — that regime belongs to MinHash. Output
    * (i, j, jac), i < j, like the other pair operators.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, tau: Double = 0.5,
      blockChars: Int = 8, window: Int = 10): DataFrame = {
    require(blockChars >= 1 && window >= 1)
    import org.apache.spark.sql.expressions.Window
    val dfn = df.select(col(idCol), col(textCol))
    val keyed = dfn.select(col(idCol).as("id"),
        regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("skey"))
      .where(length(col("skey")) > 0)
      .withColumn("block", substring(col("skey"), 1, blockChars))
    val w = Window.partitionBy(col("block"))
      .orderBy(col("skey"), col("id"))
    val ranked = keyed.withColumn("rn", row_number().over(w))
      .select(col("id"), col("block"), col("rn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(caches.track)
    val cands = ranked.as("a").join(ranked.as("b"),
        col("a.block") === col("b.block") &&
          col("b.rn") > col("a.rn") &&
          col("b.rn") <= col("a.rn") + window)
      .select(least(col("a.id"), col("b.id")).as("i"),
        greatest(col("a.id"), col("b.id")).as("j"))
      .distinct()
    val sets = hashedShingleSetsShared(dfn, idCol, textCol, n)
    cands
      .join(sets.select(col("id").as("i"), col("hs").as("sa")), "i")
      .join(sets.select(col("id").as("j"), col("hs").as("sb")), "j")
      .where(size(col("sa")) > 0 && size(col("sb")) > 0)
      .select(col("i"), col("j"),
        jaccardHashedU(col("sa"), col("sb")).as("jac"))
      .where(col("jac") >= tau)
  }

  /** Default band-key document-frequency cap, ON for every scale-facing
    * MinHash entry point (minhash/cross-corpus/streaming/HTTP). A
    * genuine near-dup GROUP puts its whole membership on shared band
    * keys, so the cap must sit far above any dup-group size the caller
    * expects to resolve pair-by-pair: 1000 ≈ 100 × a generous 10-doc
    * group. Buckets past it are boilerplate (exact-dup storms that
    * [[exactDupGroups]] handles at groupBy cost), not near-dup signal —
    * see [[minhashDupPairs]]'s param doc for the recall argument. Pass
    * `maxBandDocFreq = None` to disable, or a tighter cap for skewier
    * corpora.
    */
  val DefaultMaxBandDocFreq = 1000

  /** MinHash-LSH near-dup pairs — the scale path for jaccardPairs.
    * shingle → k minhashes → `bands` band keys → bucket join on
    * (band, key) → exact Jaccard verification on candidates only.
    * Output identical in shape/content to jaccardPairs when LSH recall
    * is 1 at tau (bands/rows chosen so P[collide | jac>=tau] ≈ 1).
    */
  /** @param maxBandDocFreq when set, band keys held by more than this
    *   many documents are dropped before the candidate join. A real
    *   web corpus is zipfian: boilerplate (error pages, templates,
    *   empty docs) lands thousands of documents on ONE band key, and
    *   that bucket alone contributes O(bucket²) candidates — the
    *   quadratic signature smuggled in through skew. Giant buckets are
    *   near-zero precision for NEAR-dup detection (their members are
    *   exact dups, which [[exactDupGroups]] catches for a groupBy) and
    *   a pair at jaccard >= tau collides in many independent bands
    *   w.h.p., so dropping the hot key costs ~no recall on genuine
    *   near-dups — the standard big-corpus LSH guard.
    */
  // Memoized like jaccardPairs: the registry runs the LSH self-join
  // once per (corpus, params) per JVM even when several faces compose
  // it (pair listing, leakage split, components).
  private val minhashMemo = new PlanMemo[
    (String, String, Int, Int, Int, Double, Long, Option[Int]), DataFrame](
    16, caches.persist(_, eager = true))

  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 64,
      tau: Double = 0.5, seed: Long = 42L,
      maxBandDocFreq: Option[Int] = Some(DefaultMaxBandDocFreq))
      : DataFrame = {
    val dfn = df.select(col(idCol), col(textCol))
    minhashMemo(dfn,
        (idCol, textCol, n, numHashes, bands, tau, seed, maxBandDocFreq))(
      minhashDupPairsUncached(dfn, idCol, textCol, n, numHashes, bands,
        tau, seed, maxBandDocFreq))
  }

  /** The raw (un-memoized, un-cached) LSH pair plan — plan-shape tests
    * inspect this directly; production callers go through the memoized
    * [[minhashDupPairs]].
    */
  private[operators] def minhashDupPairsUncached(df: DataFrame,
      idCol: String, textCol: String, n: Int, numHashes: Int,
      bands: Int, tau: Double, seed: Long,
      maxBandDocFreq: Option[Int]): DataFrame = {
    // One persisted relation carries both the hashed shingles and the
    // signature; the banding/prefilter/verification machinery is the
    // SAME dupPairsFromSets code path the cross-corpus and streaming
    // operators run — one implementation of the recall-critical logic.
    val sets = signatureSets(df, idCol, textCol, n, numHashes, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    dupPairsFromSets(sets, sets, "i", "j", numHashes, bands, tau,
      selfJoin = true, maxBandDocFreq = maxBandDocFreq)
  }

  /** MinHash-LSH parameter tuner: for every exact (bands b, rows r)
    * factorization of `numHashes`, the S-curve quality at the target
    * Jaccard `threshold`. Candidate probability at similarity s is
    * P(s) = 1 - (1 - s^r)^b (Leskovec/Rajaraman/Ullman, MMDS §3.4);
    * the false-positive area is the integral of P below the threshold,
    * the false-negative area the integral of 1-P above it, both on a
    * fixed midpoint grid so the numbers are deterministic and an
    * independent engine restates them. `s_mid` is the curve's standard
    * midpoint approximation (1/b)^(1/r).
    *
    * This is how `bands`/`numHashes` for [[minhashDupPairs]] and the
    * cross-corpus/streaming paths get chosen BEFORE burning a pass over
    * a 100 TB corpus: the whole computation is O(divisors x grid) on
    * literals — no data touched. The reference tunes its index
    * parameters with the same grid-then-pick shape (autotune family,
    * lantern_cli/src/index_autotune.rs); this is that idea applied to
    * the dedup operator's own knobs.
    *
    * Output: (r, b, s_mid, fp, fn, cost) ordered by r; the caller picks
    * the min-cost row (or weights fp/fn asymmetrically and re-ranks).
    */
  def lshTuneGrid(spark: SparkSession, threshold: Double,
      numHashes: Int = 128, gridN: Int = 200): DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    require(numHashes >= 1 && gridN >= 10)
    val p = s"(1.0d - pow(1.0d - pow((i + 0.5d) / $gridN, r), b))"
    spark.range(1, numHashes + 1).toDF("rl")
      .where(pmod(lit(numHashes), col("rl")) === 0)
      .select(col("rl").cast("int").as("r"),
        (lit(numHashes) / col("rl")).cast("int").as("b"))
      .withColumn("s_mid", round(expr("pow(1.0d / b, 1.0d / r)"), 4))
      .withColumn("fp", round(expr(
        s"""aggregate(sequence(0, ${gridN - 1}), cast(0.0 as double),
           |  (acc, i) -> acc + (CASE WHEN (i + 0.5d) / $gridN < $threshold
           |    THEN $p ELSE 0.0d END)) / $gridN""".stripMargin), 4))
      .withColumn("fn", round(expr(
        s"""aggregate(sequence(0, ${gridN - 1}), cast(0.0 as double),
           |  (acc, i) -> acc + (CASE WHEN (i + 0.5d) / $gridN >= $threshold
           |    THEN 1.0d - $p ELSE 0.0d END)) / $gridN""".stripMargin), 4))
      .withColumn("cost", round(col("fp") + col("fn"), 4))
      .orderBy(col("r"))
  }

  /** Band keys in ONE UDF pass per row: the expression form (`bands`
    * slice+hash Catalyst expressions) re-copies the signature array
    * per band. The key is any 64-bit hash of the band's r signature
    * slots — equal slices always collide regardless of the hash fn,
    * and unequal-slice collisions only ADD candidates that exact
    * verification removes, so the hash choice never affects output.
    */
  private def bandKeysUdf(bands: Int, r: Int) = udf((sig: Seq[Long]) => {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = graft.functions.TextHash.FnvOffset
      var k = b * r
      while (k < (b + 1) * r) {
        val v = sig(k)
        var byteI = 0
        while (byteI < 8) {
          h ^= (v >>> (byteI * 8)) & 0xffL
          h *= graft.functions.TextHash.FnvPrime
          byteI += 1
        }
        k += 1
      }
      out(b) = h
      b += 1
    }
    out
  })

  /** Incremental (cross-corpus) near-dup detection: which `incoming`
    * documents near-duplicate something already in `existing`? The
    * ingest-time dedup shape — a new crawl batch lands and must be
    * checked against the accumulated corpus WITHOUT re-pairing the
    * corpus with itself.
    *
    * Same MinHash-LSH machinery as [[minhashDupPairs]], but the band
    * join is incoming-bands ⋈ existing-bands (no self-join): the
    * existing corpus is touched only through its band-key relation —
    * the piece a production pipeline persists once as the "dedup
    * index" and appends to per batch — and the shuffled payload is
    * 8-byte keys. Candidates then verify exactly on hashed shingles,
    * so output = the exact cross-Jaccard pairs at `tau` (up to banding
    * recall, ~1 for tau >= 0.5 at 64x2). A small batch's band keys
    * broadcast: AQE picks the broadcast side automatically.
    *
    * Output: (new_id, old_id, jac), one row per cross pair.
    *
    * Caching: both signature-set relations are persisted (each side is
    * read by the band join AND exact verification) and registered with
    * the operator cache registry — call [[releaseCaches]] after the
    * pair output is consumed, or repeated calls in a long-lived
    * session accumulate two pinned relations per call.
    */
  def crossCorpusDupPairs(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 128,
      bands: Int = 64, tau: Double = 0.5, seed: Long = 42L,
      strategy: String = "auto",
      maxBandDocFreq: Option[Int] = Some(DefaultMaxBandDocFreq))
      : DataFrame = {
    require(Set("auto", "bloom").contains(strategy),
      s"unknown crossCorpus strategy: $strategy")
    def sigSets(df: DataFrame) =
      signatureSets(df, idCol, textCol, n, numHashes, seed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    dupPairsFromSets(sigSets(incoming), sigSets(existing),
      "new_id", "old_id", numHashes, bands, tau, selfJoin = false,
      bloomPruneRight = strategy == "bloom",
      maxBandDocFreq = maxBandDocFreq)
  }

  /** The (id, hs, sig) relation minhash dedup runs on: pre-hashed
    * shingle sets plus the MinHash signature (computed from the SAME
    * FNV-1a bases the string path would use — identical values, no
    * string traffic). Shingle-less docs (< n words) are dropped BEFORE
    * banding — they cannot be near-dups, and their all-Long.MaxValue
    * signatures would otherwise band-collide with each other in every
    * band, a quadratic blowup on short-doc-heavy corpora.
    *
    * This IS the persistable "dedup index" schema — a streaming/
    * incremental pipeline appends these rows per batch and joins new
    * batches against them (see [[graft.streaming.NearDupStream]]).
    *
    * `shared = false` bypasses the session-global shingle memo AND its
    * cache registration: a stream processing unbounded distinct
    * micro-batches must not leave one pinned relation per batch behind
    * (the memo is sized for a session's repeated batch corpora, not a
    * stream's one-shot batches).
    */
  def signatureSets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, seed: Long = 42L,
      shared: Boolean = true): DataFrame = {
    val hs =
      if (shared) hashedShingleSetsShared(df, idCol, textCol, n)
      else hashedShingleSets(df.select(col(idCol), col(textCol)),
        idCol, textCol, n)
    hs.where(size(col("hs")) > 0)
      .select(col("id"), col("hs"),
        T.minhash_signature(col("hs"), numHashes, seed).as("sig"))
  }

  /** Core LSH pair machinery over precomputed signature-set relations:
    * band-key equi-join (left row id emitted as `leftIdOut`, right as
    * `rightIdOut`), Hoeffding signature prefilter, exact hashed-shingle
    * Jaccard verification at `tau`. With `selfJoin` the left relation
    * is paired with itself under id < id ordering.
    *
    * Candidates stream as join output rows (the band-key exchange is
    * reused across both sides; one shuffle of 8-byte keys). A
    * groupBy+collect_list in-bucket expansion would be one stage
    * shorter but materializes a bucket's B²/2 pairs as one array value
    * in one row — streamed join rows spill; intra-row arrays don't.
    *
    * The signature prefilter runs before the expensive shingle
    * verification: the match fraction of the k signature slots
    * estimates jac, and the threshold backs off from tau by a
    * Hoeffding margin sized for a <= 1e-7 false-drop probability per
    * true pair: delta = sqrt(ln(1e7) / (2k)). k=128, tau=0.5 →
    * threshold 0.25; for small k the margin widens until the filter is
    * a no-op, so the "output identical to exact pairs" contract never
    * degrades with caller-chosen numHashes.
    */
  private[graft] def dupPairsFromSets(left: DataFrame, right: DataFrame,
      leftIdOut: String, rightIdOut: String, numHashes: Int, bands: Int,
      tau: Double, selfJoin: Boolean,
      bloomPruneRight: Boolean = false,
      maxBandDocFreq: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val bk = bandKeysUdf(bands, numHashes / bands)
    def bandRel(sets: DataFrame, idOut: String) = sets.select(
      col("id").as(idOut), posexplode(bk(col("sig"))).as(Seq("band", "bkey")))
    // Zipfian guard (see minhashDupPairs): drop band keys held by more
    // than `cap` documents ON THIS SIDE via a window count. The window
    // partitions by exactly the band join's key, so its exchange IS
    // the join's exchange (EnsureRequirements adds none on top) — the
    // guard costs one in-partition sort+count instead of a separate
    // aggregation stage plus broadcast anti-joins. Per-side filtering
    // yields the same pair output as dropping keys hot on either side:
    // a pair only survives if its key survives on BOTH sides, and the
    // count is linear in the bucket (the join it prevents is
    // quadratic). The hot bucket lands in one window task — bounded by
    // the linear count, watched by ScaleGrowthSpec's straggler guard.
    def guard(rel: DataFrame): DataFrame = maxBandDocFreq.fold(rel) {
      cap =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey"))
        rel.withColumn("__bdf", count(lit(1)).over(w))
          .where(col("__bdf") <= cap).drop("__bdf")
    }
    val lRel = guard(bandRel(left, leftIdOut))
    val rRelRaw = bandRel(if (selfJoin) left else right, rightIdOut)
    // Big-batch incremental regime: when the LEFT (incoming) band
    // relation is itself too large to broadcast, the band join shuffles
    // the far larger resident index too. A bloom over the incoming
    // band keys (left rows x bands items — exact, counted off the
    // persisted left side, never the index) prunes resident band rows
    // that cannot collide BEFORE their exchange (the bloom runs under
    // the guard's window, which owns the exchange); the equi-join then
    // drops the bloom's false positives, so pair output is unchanged.
    // The bloom keys on (band, bkey), so it keeps or drops WHOLE
    // buckets — surviving keys' window counts equal their true df and
    // the guard's cap semantics are untouched.
    val rRel = if (bloomPruneRight && !selfJoin) {
      val bandKey = xxhash64(col("band"), col("bkey"))
      // build from the UNGUARDED left band relation: the filter-build
      // action then skips the guard's window sort entirely (one full
      // pass less over the incoming band rows). Keys the guard would
      // drop merely stay in the bloom — resident buckets they admit
      // meet no surviving left row in the equi-join, so pair output
      // is unchanged (the bloom is a superset filter either way).
      val bloom = graft.functions.BloomFunctions.build(
        bandRel(left, leftIdOut).select(bandKey.as("bb")), "bb",
        expectedItems = left.count() * bands)
      guard(rRelRaw.where(
        graft.functions.BloomFunctions.mightContain(bandKey, bloom)))
    } else guard(rRelRaw)
    val joined = lRel.join(rRel, Seq("band", "bkey"))
    val cands = (if (selfJoin)
        joined.where(col(leftIdOut) < col(rightIdOut)) else joined)
      .select(col(leftIdOut), col(rightIdOut)).distinct()
    val estTau = math.max(0.0,
      tau - math.sqrt(math.log(1e7) / (2.0 * numHashes)))
    cands
      .join(left.select(col("id").as(leftIdOut), col("hs").as("sa"),
        col("sig").as("ga")), leftIdOut)
      .join((if (selfJoin) left else right)
        .select(col("id").as(rightIdOut), col("hs").as("sb"),
          col("sig").as("gb")), rightIdOut)
      .where(sigMatchFrac(col("ga"), col("gb")) >= estTau)
      .select(col(leftIdOut), col(rightIdOut),
        jaccardHashedU(col("sa"), col("sb")).as("jac"))
      .where(col("jac") >= tau)
  }

  /** Fused band machinery for the streaming micro-batch: the
    * within-batch self-pairs (id < id) and the new-vs-resident cross
    * pairs in ONE band exchange, one candidate distinct, and one
    * verification pass, instead of two full [[dupPairsFromSets]]
    * pipelines per batch. Returns one column `id` — the NEW-side ids
    * to drop.
    *
    * Pair-for-pair equivalent to
    * {{{
    *   dupPairsFromSets(new, new, selfJoin = true)  → keep j (larger)
    * ∪ dupPairsFromSets(new, old, selfJoin = false) → keep new_id
    * }}}
    * because: (1) the union band relation carries a side flag and the
    * window guard counts EACH SIDE separately over the same
    * (band, bkey) partition, reproducing each call's own
    * maxBandDocFreq guard exactly (a pair only survives if its key
    * survives on both of ITS sides, as before); (2) the join filter
    * `l.new && (r.old || l.id < r.id)` yields exactly the self-join's
    * ordered pairs plus the cross join's (new, old) pairs — including
    * the self-pair (x, x) when one id sits in both stores, which the
    * cross call also emits; (3) the Hoeffding prefilter and the exact
    * hashed-shingle Jaccard verification run per pair with the same
    * inputs and threshold. Both join sides project the SAME guarded
    * relation, so the band join reuses the window's single exchange —
    * no second band shuffle, half the per-batch QueryStages.
    */
  private[graft] def streamDupIds(newSets: DataFrame, oldSets: DataFrame,
      numHashes: Int, bands: Int, tau: Double,
      maxBandDocFreq: Option[Int]): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val bk = bandKeysUdf(bands, numHashes / bands)
    def bandRel(sets: DataFrame, isNew: Boolean) = sets.select(
      col("id"), lit(isNew).as("nu"),
      posexplode(bk(col("sig"))).as(Seq("band", "bkey")))
    val rel0 = bandRel(newSets, isNew = true)
      .unionByName(bandRel(oldSets, isNew = false))
    val rel = maxBandDocFreq.fold(rel0) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bkey"))
      // one Window pass computing the row's OWN side's bucket count
      // (count(when(...)) per side collapses into a single Window
      // operator because both share the frame)
      rel0
        .select(col("*"),
          count(when(col("nu"), lit(1))).over(w).as("__bdfn"),
          count(when(!col("nu"), lit(1))).over(w).as("__bdfo"))
        .where(when(col("nu"), col("__bdfn") <= cap)
          .otherwise(col("__bdfo") <= cap))
        .drop("__bdfn", "__bdfo")
    }
    val cands = rel
      .select(col("band"), col("bkey"), col("id").as("l_id"),
        col("nu").as("l_nu"))
      .join(rel.select(col("band"), col("bkey"), col("id").as("r_id"),
        col("nu").as("r_nu")), Seq("band", "bkey"))
      .where(col("l_nu") && (!col("r_nu") || col("l_id") < col("r_id")))
      .select(col("l_id"), col("r_id"), col("r_nu")).distinct()
    val estTau = math.max(0.0,
      tau - math.sqrt(math.log(1e7) / (2.0 * numHashes)))
    val rightSets = newSets.withColumn("r_nu", lit(true))
      .unionByName(oldSets.withColumn("r_nu", lit(false)))
    cands
      .join(newSets.select(col("id").as("l_id"), col("hs").as("sa"),
        col("sig").as("ga")), "l_id")
      .join(rightSets.select(col("id").as("r_id"), col("r_nu"),
        col("hs").as("sb"), col("sig").as("gb")), Seq("r_id", "r_nu"))
      .where(sigMatchFrac(col("ga"), col("gb")) >= estTau)
      .where(jaccardHashedU(col("sa"), col("sb")) >= tau)
      .select(when(col("r_nu"), col("r_id")).otherwise(col("l_id"))
        .as("id"))
      .distinct()
  }

  /** The surviving half of [[crossCorpusDupPairs]]: `incoming` rows
    * whose document does NOT near-duplicate the existing corpus — a
    * left-anti join on the pair set, all distributed.
    */
  def dedupAgainst(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, n: Int = 3, numHashes: Int = 128,
      bands: Int = 64, tau: Double = 0.5, seed: Long = 42L): DataFrame = {
    val dups = crossCorpusDupPairs(existing, incoming, idCol, textCol,
      n, numHashes, bands, tau, seed)
      .select(col("new_id").as(idCol)).distinct()
    incoming.join(dups, Seq(idCol), "left_anti")
  }

  // fraction of equal slots between two equal-length minhash signatures
  private val sigMatchFrac = udf((a: Seq[Long], b: Seq[Long]) => {
    var m = 0
    var k = 0
    while (k < a.length) { if (a(k) == b(k)) m += 1; k += 1 }
    m.toDouble / a.length
  })

  /** SimHash near-dup pairs: 64-bit simhash over word tokens, banded
    * into 4 x 16-bit chunks (pigeonhole: hamming <= 3 implies at least
    * one equal chunk), verified by exact bit_count(xor).
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // The chunk relation below is self-joined; without a persist the
    // per-doc simhash (FNV per word + 64 bit-votes) is computed once
    // per join branch. Persisting registers the plan with the cache
    // manager, so repeated calls over the same corpus also reuse it.
    val sims = df.select(col(idCol).as("id"),
      T.simhash64(split(col(textCol), " ")).as("sim"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    hammingDupPairs(sims, "id", "sim", maxHamming)
  }

  /** Hamming-near pairs (i < j, hamming <= maxHamming) over ANY 64-bit
    * fingerprint column — the chunk-pigeonhole join simhash uses,
    * reusable by other 64-bit perceptual hashes (image dHash/aHash).
    * Candidates share at least one of the 4 16-bit chunks (guaranteed
    * complete for maxHamming <= 3; above that a recall-raising
    * heuristic, as with SimHash at 10) and are verified exactly by
    * bit_count(xor). Null fingerprints (undecodable payloads) are
    * excluded. Shuffle is by 16-bit chunk key: bucketed, never n².
    */
  def hammingDupPairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    val sims = df.select(col(idCol).as("id"), col(hashCol).as("sim"))
      .where(col(hashCol).isNotNull)
    val chunks = sims.select(col("id"), col("sim"),
      explode(array((0 until 4).map(i => struct(lit(i).as("chunk"),
        shiftright(col("sim"), i * 16).bitwiseAND(lit(0xffffL))
          .as("ckey"))): _*)).as("cc"))
      .select(col("id"), col("sim"), col("cc.chunk"), col("cc.ckey"))
    val cands = chunks.as("a").join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        col("a.sim").as("sa"), col("b.sim").as("sb"))
      .distinct()
    cands.select(col("i"), col("j"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Winnowing fingerprints per document: (id, pos, fp) — the SWA 2003
    * rightmost-min-per-window selection over positional word-k-gram
    * FNV hashes (see [[graft.functions.Winnow]]). Pure per-row
    * projection: shuffle-free at any corpus size.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame =
    df.select(col(idCol).as("id"),
        explode(T.winnow(T.gram_hashes(col(textCol), k), window)).as("f"))
      .select(col("id"), col("f.pos").as("pos"), col("f.fp").as("fp"))

  /** Cross-document overlap pairs by shared winnowing fingerprints —
    * the MOSS match step: pairs sharing >= minShared distinct selected
    * fingerprints, scored by Jaccard over the kept fingerprint sets.
    * Fingerprints appearing in more than maxDocFreq documents are
    * dropped first (SWA's too-common-to-be-interesting rule). The cap
    * is also the scale guard: a fingerprint present in d documents
    * expands to d² candidate pairs in the bucket join, so one
    * boilerplate fingerprint would otherwise turn the join quadratic.
    * Shuffles by fingerprint key only; never all-pairs.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4, minShared: Int = 5,
      maxDocFreq: Int = 50): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, window)
      .select(col("id"), col("fp")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(caches.track)
    // document-frequency cap over the persisted set (fps is read
    // twice: once aggregated, once joined — one compute, two reads)
    val kept = fps.join(
        fps.groupBy(col("fp")).agg(count(lit(1)).as("df_fp"))
          .where(col("df_fp") <= maxDocFreq).select(col("fp")),
        Seq("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .transform(caches.track)
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("nf"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    pairs.join(sizes.as("sa"), col("i") === col("sa.id"))
      .join(sizes.as("sb"), col("j") === col("sb.id"))
      .select(col("i"), col("j"), col("shared"),
        (floor(col("shared") / (col("sa.nf") + col("sb.nf") -
          col("shared")) * 10000 + 0.5) / 10000).as("overlap"))
  }

  /** Exact embedding-cosine near-dup pairs (i < j, cos_dist <= tau).
    *
    * Exact threshold joins with tau near the bulk of the distance
    * distribution are inherently quadratic COMPUTE (in high dimension
    * distances concentrate, so no bucketing can separate pairs at
    * 0.5499 from 0.5503 without evaluating them) — what a scale-honest
    * implementation controls is the SHAPE: this is a blocked self-join
    * (rows hashed into `blocks` groups, one task per block pair), so
    * no full-table broadcast, per-task memory is (n/blocks)² bounded,
    * and work spreads evenly over the cluster. Raise `blocks` with
    * corpus size (replication per row is O(blocks)). For the
    * sub-quadratic tight-dup regime use embeddingDupPairsLsh.
    *
    * Corpora above [[ExactEmbDupMaxRowsDefault]] rows are REFUSED:
    * above that size the quadratic compute is never the right call at
    * cluster scale, and a pipeline should fail loudly at plan time
    * rather than burn a fleet on it. Tests/oracles that genuinely want
    * the exact face on a bounded slice raise the guard via
    * [[exactEmbDupMaxRowsOverride]].
    */
  private[graft] val ExactEmbDupMaxRowsDefault = 100000L
  @volatile private[graft] var exactEmbDupMaxRowsOverride: Option[Long] =
    None

  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(blocks)).cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    // The guard count materializes the persisted base the join reads
    // anyway (unlike a side-channel sizing pass, nothing is wasted) —
    // and an O(n) count is noise against the O(n²) job it gates.
    val limit =
      exactEmbDupMaxRowsOverride.getOrElse(ExactEmbDupMaxRowsDefault)
    val nRows = base.count()
    if (nRows > limit) {
      base.unpersist()
      throw new IllegalArgumentException(
        s"embeddingDupPairs is inherently O(n²) and refuses corpora " +
          s"over $limit rows (got $nRows). Use embeddingDupPairsLsh — " +
          "the bucketed scale path with exact verification — or raise " +
          "Dedup.exactEmbDupMaxRowsOverride for a bounded slice.")
    }
    val blockPairs = broadcast(
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j))
        .toDF("ba", "bb"))
    val a = base.select(col("id").as("i"), col("v").as("va"),
      col("blk").as("ba"))
    val b = base.select(col("id").as("j"), col("v").as("vb"),
      col("blk").as("bb"))
    // each unordered pair appears exactly once: block pairs are
    // enumerated with ba <= bb, same-block pairs keep i < j, and
    // cross-block pairs are canonicalized to (min, max) — cos_dist is
    // symmetric (same fold both ways), so the value is unaffected
    a.join(blockPairs, "ba").join(b, Seq("bb"))
      .where(col("ba") =!= col("bb") || col("i") < col("j"))
      .select(least(col("i"), col("j")).as("i"),
        greatest(col("i"), col("j")).as("j"),
        V.cos_dist(col("va"), col("vb")).as("cd"))
      .where(col("cd") <= tau)
  }

  /** LSH-bucketed embedding near-dup: random-hyperplane bucket join,
    * then exact verification — the scale path for embeddingDupPairs.
    * Multiple probes (seeds) raise recall; candidates are unioned.
    */
  def embeddingDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      tau: Double, numBits: Int = 12, probes: Int = 4,
      seed: Long = 42L): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    val bucketed = base.select(col("id"), col("v"),
      explode(array((0 until probes).map(p =>
        struct(lit(p).as("probe"),
          graft.functions.TextFunctions
            .cosine_lsh_bucket(col("v"), numBits, seed + p)
            .as("bucket"))): _*)).as("pb"))
      .select(col("id"), col("v"), col("pb.probe"), col("pb.bucket"))
    val cands = bucketed.as("a").join(bucketed.as("b"),
        col("a.probe") === col("b.probe") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        col("a.v").as("va"), col("b.v").as("vb"))
      .dropDuplicates("i", "j")
    cands.select(col("i"), col("j"),
        V.cos_dist(col("va"), col("vb")).as("cd"))
      .where(col("cd") <= tau)
  }

  /** SemDeDup-style embedding-cluster dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest anchor
    * (= cluster), then within each cluster drop the larger id of every
    * near-dup pair at cos_dist <= eps, keeping one representative per
    * duplicate neighborhood. Reference capability analog: the
    * reference's k-means machinery (`lantern_cli/src/pq/kmeans.rs`)
    * clusters for PQ; SemDeDup is the same partition-then-compare idea
    * applied to dedup.
    *
    * `anchors` plays the role of the k-means centroid set. It is
    * collected to the driver — BY CONTRACT a bounded model (k rows,
    * like ProductQuantizer's <= 256 centroids), NOT data — and shipped
    * to executors as a `sparkContext.broadcast` variable read by the
    * assignment UDF (the same pattern ProductQuantizer's Lloyd
    * iterations use). The model never appears in the query plan: at
    * SemDeDup's own stated regime (k ~ sqrt(n)) a plan-embedded anchor
    * literal would have to be serialized into every task binary and
    * walked by Catalyst's constant handling, which dies long before the
    * compute does; torrent broadcast ships it once per executor
    * instead. Cluster assignment is a pure projection over the scan:
    * ZERO shuffle. The only exchange in the whole operator is the
    * within-cluster self-join, and because k ~ sqrt(n) clusters stay
    * small and the per-cluster quadratic stays bounded.
    *
    * Output: (id, cluster, keep) — keep=0 iff some smaller-id member of
    * the same cluster is within eps.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      anchors: DataFrame, anchorIdCol: String, anchorVecCol: String,
      eps: Double): DataFrame = {
    val V = graft.functions.VectorFunctions
    val anchorRows: Array[(Long, Array[Float])] = anchors
      .select(col(anchorIdCol).cast("long"), col(anchorVecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(anchorRows.nonEmpty, "anchor set must be non-empty")
    val bc = df.sparkSession.sparkContext.broadcast(anchorRows)
    // Nearest anchor over the broadcast model. The distance loop
    // replicates CosineDistance.nullSafeEval term-for-term (same
    // float->double widening, same left-to-right accumulation) so the
    // doubles — and therefore the argmin decisions — are bit-identical
    // to the previous expression-based assignment. Ties and NaNs follow
    // Spark's struct-min total order: strictly-smaller distance wins
    // (Double.compare puts NaN last), equal distances keep the smaller
    // anchor id because anchors are scanned in ascending-id order —
    // the same total order the SQL oracle's row_number() window uses.
    val assignU = udf { (v: Seq[Float]) =>
      if (v == null) null
      else {
        val vec = v.toArray
        val model = bc.value
        var bestD = 0.0; var bestId = 0L; var first = true
        var j = 0
        while (j < model.length) {
          val a = model(j)._2
          require(a.length == vec.length,
            s"dimension mismatch: ${vec.length} vs ${a.length}")
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < vec.length) {
            val x = vec(i).toDouble; val y = a(i).toDouble
            dot += x * y; na += x * x; nb += y * y; i += 1
          }
          val d = 1.0 - dot / math.sqrt(na * nb)
          if (first || java.lang.Double.compare(d, bestD) < 0) {
            bestD = d; bestId = model(j)._1; first = false
          }
          j += 1
        }
        java.lang.Long.valueOf(bestId)
      }
    }
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cluster", assignU(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).transform(caches.track)
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id") &&
          V.cos_dist(col("a.v"), col("b.v")) <= eps)
      .select(col("b.id").as("id")).distinct()
    assigned.select(col("id"), col("cluster"))
      .join(dropped.withColumn("drp", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        when(col("drp").isNotNull, lit(0)).otherwise(lit(1))
          .cast("int").as("keep"))
  }

  /** Quality-aware canonical selection: one representative per
    * near-dup cluster by HIGHEST score (ties → smallest id), the
    * curation policy real pipelines want over [[connectedComponents]]'
    * min-id default ("keep the longest / highest-quality copy, drop
    * the rest"). Docs outside every pair are their own cluster and
    * always kept. The argmax is one partial-aggregated
    * max(struct(score, -id)) per cluster — no window sort, so per-task
    * state stays register-sized at any corpus size.
    *
    * @param docs     relation carrying `idCol` and `scoreCol` (any
    *                 orderable score type; larger = better)
    * @param pairs    near-dup pair graph (i, j) from any dedup family
    * @return (id, cluster, keep) with keep ∈ {0, 1}
    */
  def clusterRepresentatives(docs: DataFrame, idCol: String,
      scoreCol: String, pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val comp = connectedComponents(pairs, maxRounds)
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(scoreCol).as("__score"))
    val withC = base.join(comp, Seq("id"), "left")
      .select(col("id"), col("__score"),
        coalesce(col("component"), col("id")).as("cluster"))
    val best = withC.groupBy(col("cluster"))
      .agg(max(struct(col("__score"), negate(col("id")).as("ni")))
        .as("m"))
      .select(col("cluster"), negate(col("m.ni")).as("rep_id"))
    withC.join(best, Seq("cluster"))
      .select(col("id"), col("cluster"),
        (col("id") === col("rep_id")).cast("int").as("keep"))
  }

  /** Connected components over an undirected near-dup pair graph
    * (columns i, j) — the duplicate-CLUSTER view of the pair output:
    * every vertex maps to its component's minimum id, the canonical
    * representative a pipeline keeps ("keep one per duplicate cluster",
    * which pair-level removal only approximates on transitive chains).
    * Output: (id, component), typed like i and j. A vertex seen only in
    * a self-pair labels to itself; a null endpoint fails with an
    * IllegalArgumentException naming the pair.
    *
    * Up to [[LocalEdgeBound]] pairs with integral ids, the pairs are
    * collected once and clustered on the driver by union-find: every
    * union makes the smaller root the parent, so each root is its
    * component's minimum, and path halving keeps `find` short. The
    * result is a local relation, so reading it launches no Spark job.
    * Jobs: the collect, plus a count unless `pairs` is a materialized
    * cache (as the memoized [[jaccardPairs]] and [[minhashDupPairs]]
    * outputs are), whose row count the cache already holds. Past the
    * bound, [[connectedComponentsAlternating]] runs distributed with
    * `maxRounds` as its round limit.
    *
    * Memory bound of the local path: a graph at the bound has at most
    * 2^21 vertices, and its output relation retains about 85 B per
    * vertex (175 MB measured for 2^20 disjoint pairs). Before that,
    * the collected rows take about 160 B per pair, and the union-find
    * 32 B per pair plus 12 B per vertex, so the driver needs about
    * 250 MB of heap at the bound.
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20)
      : DataFrame = componentsWithin(pairs, maxRounds, LocalEdgeBound)

  /** Pair count up to which [[connectedComponents]] clusters on the
    * driver. */
  val LocalEdgeBound: Long = 1L << 20

  private[operators] def componentsWithin(pairs: DataFrame, maxRounds: Int,
      edgeBound: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    // the type a union of the two endpoint columns widens to
    val idType = pairs.select(col("i").as("v"))
      .unionAll(pairs.select(col("j").as("v"))).schema.head.dataType
    if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(idType) ||
        cachedRowCount(pairs).getOrElse(pairs.count()) > edgeBound)
      return connectedComponentsAlternating(pairs, maxRounds)

    // endpoints of pair k at 2k and 2k + 1
    val ends = pairs.select(col("i").cast(LongType), col("j").cast(LongType))
      .collect().flatMap { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"connectedComponents: pair (${r.get(0)}, ${r.get(1)}) has a " +
            "null endpoint")
        Array(r.getLong(0), r.getLong(1))
      }
    // vertex index order is id order, so the smaller root is the
    // smaller id
    val ids = java.util.Arrays.stream(ends).sorted().distinct().toArray
    val parent = Array.range(0, ids.length)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    (ends.indices by 2).foreach { k =>
      val ra = find(java.util.Arrays.binarySearch(ids, ends(k)))
      val rb = find(java.util.Arrays.binarySearch(ids, ends(k + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // parent(v) <= v holds throughout, so one ascending pass sets every
    // vertex to its root
    parent.indices.foreach(v => parent(v) = parent(parent(v)))
    val local = org.apache.spark.sql.graftshim.GraftShims.dataFrame(
      pairs.sparkSession, LocalRelation(
        Seq(AttributeReference("id", LongType, nullable = false)(),
          AttributeReference("component", LongType, nullable = false)()),
        ids.indices.map(v => InternalRow(ids(v), ids(parent(v))))))
    if (idType == LongType) local
    else local.select(col("id").cast(idType).as("id"),
      col("component").cast(idType).as("component"))
  }

  // Exact row count of a fully materialized cached relation, read from
  // the cache's own counter without a job; None for anything else.
  private def cachedRowCount(df: DataFrame): Option[Long] =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)
      .collect { case c if c.isCachedColumnBuffersLoaded =>
        c.rowCountStats.value.longValue }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the distributed path of [[connectedComponents]], with
    * the same output contract, (id, component-min). It converges in
    * O(log² n) rounds regardless of component DIAMETER, so chain-shaped
    * dup graphs (template drift d1~d2~…~dk stretches near-dup
    * components into long paths) cost no more rounds than cliques.
    *
    * Each phase is a partial-aggregated `groupBy` (per-node min
    * neighbor: a power-law hub's edges collapse map-side to one row per
    * partition) plus an equi-join on the node id that AQE can
    * broadcast — the per-node min table is |V|, tiny next to |E| — or
    * skew-split. Edges stay canonically ordered (hi, lo), so the state
    * per round is ≤ the input edge count; `localCheckpoint` truncates
    * lineage each round. Convergence is detected by an (edge-count,
    * xor-of-edge-hashes) signature — two driver scalars per round,
    * never edge data. A graph that has not converged after `maxRounds`
    * rounds throws an IllegalStateException naming `maxRounds`; a null
    * endpoint fails the first round with an error naming the pair.
    */
  def connectedComponentsAlternating(pairs: DataFrame, maxRounds: Int = 50)
      : DataFrame = {
    require(maxRounds > 0, s"maxRounds must be positive, got $maxRounds")
    ccAltMemo(pairs, maxRounds)(ccAlternatingUncached(pairs, maxRounds))
  }

  private val ccAltMemo = new PlanMemo[Int, DataFrame](16)

  private def ccAlternatingUncached(pairs: DataFrame, maxRounds: Int)
      : DataFrame = {
    // Canonical (hi, lo) edge set, self-loops dropped (a vertex seen
    // only in a self-pair labels to itself via the final left join).
    val nullPair = raise_error(format_string(
      "connectedComponents: pair (%s, %s) has a null endpoint",
      col("i"), col("j")))
    var e = pairs
      .select(
        when(col("i").isNull || col("j").isNull, nullPair)
          .otherwise(greatest(col("i"), col("j"))).as("x"),
        least(col("i"), col("j")).as("y"))
      .where(col("x") =!= col("y")).distinct()
      .localCheckpoint(true)

    // (count, xor of per-edge hashes): equal signatures ⇒ equal sets
    // up to hash collision; a collision only costs extra rounds, not
    // correctness, because star sets are fixpoints of both phases.
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("x"), col("y"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    // large-star: every node connects its LARGER neighbors to its min
    // (m = min(N(u) ∪ {u})). Emitted edges (v, m) have v > u ≥ m, so
    // the output is already canonical (hi, lo).
    def largeStar(edges: DataFrame): DataFrame = {
      val bidir = edges.select(col("x").as("u"), col("y").as("v"))
        .unionAll(edges.select(col("y").as("u"), col("x").as("v")))
      val mins = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      bidir.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y")).distinct()
    }

    // small-star: keyed by the larger endpoint, every node connects its
    // smaller neighbors (and itself) to its min neighbor.
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("x")).agg(min(col("y")).as("m"))
      edges.join(mins, "x")
        .select(col("y").as("x"), col("m").as("y"))
        .unionAll(mins.select(col("x"), col("m").as("y")))
        .where(col("x") =!= col("y")).distinct()
    }

    var last = sig(e)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      val s = sig(e)
      converged = s == last
      last = s
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within maxRounds=$maxRounds " +
        "large-/small-star rounds; raise maxRounds")

    // Converged edge set is a union of stars (v, root); roots and
    // self-pair-only vertices label to themselves.
    val verts = pairs.select(col("i").as("id"))
      .unionAll(pairs.select(col("j").as("id"))).distinct()
    verts.join(e.select(col("x").as("id"), col("y").as("c")), Seq("id"),
        "left")
      .select(col("id"), coalesce(col("c"), col("id")).as("component"))
  }
}
