package graft.operators

import graft.operators.TextAnalysis.{Dialect, SparkDialect}

/** Training-data pipeline operators beyond scoring/dedup: rule-based
  * quality gating (Gopher-style), token-sequence packing, deterministic
  * domain mixing, and PII redaction.
  *
  * Like [[TextAnalysis]]/[[CorpusStats]], each operator is ONE SQL
  * template rendered for Spark SQL and DuckDB so the correctness oracle
  * runs the identical computation. On Spark every template compiles to a
  * parquet scan + codegen'd expressions (plus, for packing, one window
  * over the partition key) — no UDFs, no driver-side work, shapes that
  * hold at 100 TB.
  */
object PipelineOps {

  /** floor(x*1e4+0.5)/1e4 — the portable round (see TextAnalysis). */
  private def r4(x: String): String =
    s"floor(($x) * 10000 + 0.5) / 10000"

  /** Replace ALL matches: Spark's regexp_replace is global by default;
    * DuckDB replaces the first match unless passed the 'g' flag.
    */
  private def replaceAll(d: Dialect, col: String, pat: String,
      rep: String): String =
    if (d == SparkDialect) s"regexp_replace($col, '$pat', '$rep')"
    else s"regexp_replace($col, '$pat', '$rep', 'g')"

  /** Integer division (the `/` operator is double division in both
    * engines and would round differently from truncation).
    */
  private def intDiv(d: Dialect, a: String, b: String): String =
    if (d == SparkDialect) s"(($a) DIV ($b))" else s"(($a) // ($b))"

  /** Trailing presentation sort — rendered ONLY for the DuckDB oracle
    * (cheap there, and keeps the oracle output readable/deterministic).
    * The Spark rendering drops it: the correctness gate sorts rows
    * before hashing, so a global ORDER BY on the Spark side buys
    * nothing and costs a full range-partition + sort exchange of the
    * entire operator output — the exact shuffle these templates
    * otherwise avoid. Window-internal ORDER BYs (semantic) stay.
    */
  private def tailOrder(d: Dialect, cols: String): String =
    if (d == SparkDialect) "" else s"\nORDER BY $cols"

  /** CC-Net-style text normalization (Wenzek et al. 2020 §2: the
    * canonical form both dedup hashing and LM scoring run on):
    * lowercase, digits collapsed to `0`, punctuation stripped to
    * spaces, runs of whitespace collapsed, trimmed. Emitted alongside
    * the raw/normalized lengths so a gate can bound how much
    * normalization destroyed (a doc that loses most of its characters
    * was punctuation soup to begin with). One codegen'd expression
    * chain over the scan — no UDFs, no shuffle, 100 TB trivially.
    */
  def normalizeTextSql(d: Dialect, table: String = "documents"): String = {
    val norm = replaceAll(d,
      replaceAll(d,
        replaceAll(d, "lower(text)", "[0-9]", "0"),
        "[^a-z0 ]", " "),
      "  +", " ")
    s"""SELECT doc_id, trim($norm) AS norm_text,
       |  CAST(length(text) AS INT) AS n_raw,
       |  CAST(length(trim($norm)) AS INT) AS n_norm,
       |  ${r4(s"CAST(length(trim($norm)) AS DOUBLE) / " +
            "CAST(greatest(length(text), 1) AS DOUBLE)")} AS kept_frac
       |FROM $table${tailOrder(d, "doc_id")}""".stripMargin
  }

  /** Gopher-style rule-based quality gate (Rae et al. 2021, table A1
    * adapted to this corpus): per-document token count, mean word
    * length, alphabetic-word fraction, stopword hits, symbol ratio, and
    * the resulting keep decision. Reference analog: the reference
    * filters blank/error rows before embedding
    * (lantern_cli/src/utils/mod.rs:37-39); this is the corpus-curation
    * generalization.
    *
    * Rule thresholds are compared on UN-rounded doubles — both engines
    * compute them with the identical operation order, so the compare is
    * exact; the emitted ratio columns are floor-rounded for display.
    */
  def gopherQualitySql(d: Dialect, table: String = "documents"): String = {
    val stop = TextAnalysis.stopCount(d, TextAnalysis.Stopwords.head._2)
    s"""SELECT doc_id, tokens, $stopName AS stop_hits,
       |  ${r4("mwl")} AS mean_word_len,
       |  ${r4("af")} AS alpha_frac,
       |  ${r4("sr")} AS symbol_ratio,
       |  CAST(CASE WHEN tokens >= 20 AND tokens <= 100000
       |    AND mwl >= 3.0 AND mwl <= 10.0
       |    AND af >= 0.8 AND $stopName >= 2 AND sr <= 0.1
       |    THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT doc_id, tokens, $stopName,
       |    CASE WHEN tokens = 0 THEN 0.0
       |         ELSE CAST(nschars AS DOUBLE) / CAST(tokens AS DOUBLE) END AS mwl,
       |    CASE WHEN tokens = 0 THEN 0.0
       |         ELSE CAST(alpha_words AS DOUBLE) / CAST(tokens AS DOUBLE) END AS af,
       |    CAST(symbols AS DOUBLE) / CAST(greatest(length(text), 1) AS DOUBLE) AS sr,
       |    text
       |  FROM (
       |    SELECT doc_id, text,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE ${d.size}(${d.split}(trim(text), ' ')) END AS tokens,
       |      length(replace(trim(text), ' ', '')) AS nschars,
       |      ${d.size}(${d.filter}(${d.split}(trim(text), ' '),
       |        w -> regexp_extract(w, '[A-Za-z]', 0) != '')) AS alpha_words,
       |      ${d.size}(regexp_extract_all(text, '[^A-Za-z0-9 ]', 0)) AS symbols,
       |      $stop AS $stopName
       |    FROM $table) _i) _o${tailOrder(d, "doc_id")}""".stripMargin
  }
  private val stopName = "en_hits"

  /** Token-sequence packing: concatenate documents (in stable doc_id
    * order, independently per `source` shard) into fixed-length
    * training sequences of `seqLen` tokens. Emits each document's
    * global start offset within its shard, the sequence it starts in,
    * and its offset inside that sequence — the bookkeeping a
    * tokenize-and-pack pipeline materializes before writing examples.
    *
    * One window (partition by source, order by doc_id) = one shuffle by
    * shard; shards pack independently, so a 100 TB corpus packs with
    * per-shard parallelism and no global coordination.
    */
  def seqPackSql(d: Dialect, table: String = "documents",
      seqLen: Int = 512): String =
    s"""SELECT doc_id, source, tokens,
       |  cum - tokens AS start_off,
       |  CAST(${intDiv(d, "cum - tokens", seqLen.toString)} AS BIGINT) AS seq_id,
       |  (cum - tokens) % $seqLen AS seq_off
       |FROM ${cumTokens(d, table)} _c${tailOrder(d, "source, doc_id")}""".stripMargin

  /** Ordered string concatenation within a group — Spark has no
    * ORDER BY inside string_agg, so the sort rides an array_sort over
    * (orderCol, text) structs; DuckDB uses its native ordered
    * aggregate. Both produce the identical deterministic byte string.
    */
  private def orderedConcat(d: Dialect, textCol: String,
      orderCol: String): String =
    if (d == SparkDialect)
      s"array_join(transform(array_sort(collect_list(" +
        s"struct($orderCol, $textCol))), x -> x.$textCol), ' ')"
    else s"string_agg($textCol, ' ' ORDER BY $orderCol)"

  /** Materialized packed sequences — [[seqPackSql]] emits the
    * bookkeeping (which sequence each document starts in); this emits
    * the EXAMPLES: one row per (source, seq_id) with the documents
    * concatenated in packing order, their count, and the token total.
    * The groupBy reuses the same cumulative-token assignment, so the
    * two views can never disagree about sequence membership.
    */
  def packExamplesSql(d: Dialect, table: String = "documents",
      seqLen: Int = 512): String =
    s"""SELECT source, CAST(seq_id AS BIGINT) AS seq_id,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(tokens) AS BIGINT) AS seq_tokens,
       |  ${orderedConcat(d, "text", "doc_id")} AS seq_text
       |FROM (
       |  SELECT c.doc_id, c.source, c.tokens,
       |    ${intDiv(d, "c.cum - c.tokens", seqLen.toString)} AS seq_id,
       |    t.text
       |  FROM ${cumTokens(d, table)} c
       |  JOIN $table t ON c.doc_id = t.doc_id) _s
       |GROUP BY source, seq_id${tailOrder(d, "source, seq_id")}""".stripMargin

  /** Shared by [[seqPackSql]] and [[tokenBudgetMixSql]]: per-document
    * whitespace token counts with the per-source running total
    * (PARTITION BY source ORDER BY doc_id) — ONE definition so the two
    * operators can never disagree on tokenization.
    */
  private def cumTokens(d: Dialect, table: String): String =
    s"""(SELECT doc_id, source, tokens,
       |    CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM (
       |    SELECT doc_id, source,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE CAST(${d.size}(${d.split}(trim(text), ' ')) AS BIGINT)
       |           END AS tokens
       |    FROM $table) _t)""".stripMargin

  /** Deterministic domain mixing: per-source sampling rates applied via
    * a multiplicative-hash uniform on doc_id, so the same row always
    * gets the same draw (re-runs and retries are idempotent — the
    * property that matters on a 1000-executor job). Even-indexed
    * sources keep 80 %, odd-indexed 25 % — the up/down-weighting shape
    * of a training-data domain mixture.
    *
    * The draw is exact BIGINT arithmetic in both engines (doc_id
    * reduced mod 1e6 first, so the product stays far below 2^63 at any
    * corpus size). A production pipeline would use xxhash64(doc_id) —
    * same shape, engine-specific hash; the Knuth multiplier keeps the
    * oracle portable.
    */
  def domainMixSql(d: Dialect, table: String = "documents"): String =
    s"""SELECT doc_id, source, u
       |FROM (
       |  SELECT doc_id, source,
       |    CAST(substr(source, 4) AS BIGINT) AS src_idx,
       |    ((doc_id % 1000000) * 2654435761) % 1000000 AS u
       |  FROM $table) _t
       |WHERE u < CASE WHEN src_idx % 2 = 0 THEN 800000 ELSE 250000 END${tailOrder(d, "doc_id")}""".stripMargin

  /** Generator over `[0, n)` usable in a select list: Spark allows one
    * `explode` generator per select; DuckDB unnests a list inline.
    * Callers guarantee n >= 1 (Spark's `sequence(0, -1)` would count
    * DOWN, not produce an empty array).
    */
  private def explodeRange(d: Dialect, n: String): String =
    if (d == SparkDialect) s"explode(sequence(0, ($n) - 1))"
    else s"unnest(range(0, $n))"

  /** `join(' ', arr[start .. start+len-1])`, 1-based start, clamped to
    * the array end by both engines.
    */
  private def sliceJoin(d: Dialect, arr: String, start: String,
      len: String): String =
    if (d == SparkDialect)
      s"array_join(slice($arr, $start, $len), ' ')"
    else
      s"array_to_string(list_slice($arr, $start, ($start) + ($len) - 1), ' ')"

  /** Sliding-window document chunking — the RAG / context-window
    * primitive: split each document into `chunkSize`-token windows every
    * `stride` tokens (overlap = chunkSize - stride), emitting the chunk
    * text and its token span. Zero-token documents produce zero chunks.
    *
    * Scale shape: scan → codegen'd split → one generator (explode) →
    * project. No shuffle at all — chunking is embarrassingly parallel
    * and the output is written partition-local. nchunks is exact integer
    * arithmetic: ((n_tok - 1) DIV stride) + 1, so the last window starts
    * at the last multiple of stride below n_tok and is truncated by the
    * clamped slice.
    */
  def chunkSql(d: Dialect, table: String = "documents",
      chunkSize: Int = 64, stride: Int = 48): String =
    s"""SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |  CAST(chunk_id * $stride AS INT) AS tok_start,
       |  CAST(least($chunkSize, n_tok - chunk_id * $stride) AS INT) AS chunk_tokens,
       |  ${sliceJoin(d, "w", s"chunk_id * $stride + 1", chunkSize.toString)} AS chunk_text
       |FROM (
       |  SELECT doc_id, w, n_tok,
       |    ${explodeRange(d, s"${intDiv(d, "n_tok - 1", stride.toString)} + 1")} AS chunk_id
       |  FROM (
       |    SELECT doc_id, ${d.split}(trim(text), ' ') AS w,
       |      CASE WHEN length(trim(text)) = 0 THEN 0
       |           ELSE ${d.size}(${d.split}(trim(text), ' ')) END AS n_tok
       |    FROM $table) _a
       |  WHERE n_tok > 0) _b${tailOrder(d, "doc_id, chunk_id")}""".stripMargin

  /** Adaptive per-source quality gate: keep the top half of every
    * source shard by composite quality score. Thresholding by RANK
    * (deterministic tie-break on doc_id) rather than by a computed
    * median VALUE keeps the decision in exact integer arithmetic —
    * a value threshold would hang the keep bit on the last ulp of two
    * engines' interpolated medians.
    *
    * Scale shape: scan → codegen'd scoring → one window shuffle on
    * source (the same partitioning a per-source writer needs anyway).
    */
  def adaptiveGateSql(d: Dialect, table: String = "documents"): String =
    s"""SELECT doc_id, source, quality, CAST(rnk AS INT) AS rnk,
       |  CAST(CASE WHEN rnk <= ${intDiv(d, "cnt + 1", "2")}
       |       THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT doc_id, source, quality,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id) AS rnk,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM ${TextAnalysis.qualityScored(d, table, "doc_id, source")}) _r${tailOrder(d, "doc_id")}""".stripMargin

  /** Generator over the inclusive range `[lo, hi]` in a select list. */
  private def explodeSeq(d: Dialect, lo: String, hi: String): String =
    if (d == SparkDialect) s"explode(sequence($lo, $hi))"
    else s"unnest(range($lo, ($hi) + 1))"

  /** 1-based array element access. */
  private def elemAt(d: Dialect, arr: String, i: String): String =
    if (d == SparkDialect) s"element_at($arr, $i)" else s"$arr[$i]"

  /** Z-order (Morton) interleave of two 16-bit keys — the multi-column
    * data-CLUSTERING primitive: rows sorted/range-partitioned by the
    * z-value keep BOTH dimensions locally dense, so parquet min/max
    * stats prune file scans for predicates on either column (the
    * lakehouse OPTIMIZE ZORDER BY layout, here as a pure expression).
    * Emitted as a dual-dialect template: 16 fixed-order bit
    * interleavings in exact integer arithmetic, so the oracle
    * hash-matches.
    *
    * At 100 TB this is a WRITE-TIME choice:
    * `df.repartitionByRange(n, $"z").sortWithinPartitions($"z")
    * .write.parquet(...)` gives every file a tight z-range = a tight
    * rectangle in (a, b) space.
    */
  def zorderSql(d: Dialect, table: String, idCol: String, aExpr: String,
      bExpr: String): String = {
    val shr =
      if (d == SparkDialect) (x: String, i: Int) => s"shiftright($x, $i)"
      else (x: String, i: Int) => s"($x >> $i)"
    val terms = (0 until 16).flatMap { i =>
      Seq(
        s"(${shr("a16", i)} & 1) * ${1L << (2 * i)}",
        s"(${shr("b16", i)} & 1) * ${1L << (2 * i + 1)}")
    }.mkString(" + ")
    // min-max normalize each dimension to the full 16-bit range before
    // interleaving: without it, a narrow-range column occupies only low
    // bits and the wide column dominates every high bit — z degenerates
    // to a plain sort on the wide column. Two aggregate scalars,
    // broadcast-joined: fully distributed, no global window.
    //
    // The scale runs in DOUBLE, not BIGINT: integer (x-mn)*65535 wraps
    // for ranges past 2^63/65535 (epoch-nanos), silently in Spark and
    // loudly in DuckDB — divergent engines. IEEE *,/ and floor are
    // correctly rounded, so the double form is still bit-identical
    // across engines for any input.
    def scale(x: String, mn: String, mx: String): String =
      s"CAST(floor(CAST(($x) - $mn AS DOUBLE) * 65535 / " +
        s"CAST(greatest($mx - $mn, 1) AS DOUBLE)) AS BIGINT)"
    s"""SELECT $idCol, a16, b16, CAST($terms AS BIGINT) AS z
       |FROM (
       |  SELECT $idCol,
       |    ${scale(aExpr, "ext.amin", "ext.amax")} AS a16,
       |    ${scale(bExpr, "ext.bmin", "ext.bmax")} AS b16
       |  FROM $table CROSS JOIN (
       |    SELECT CAST(min($aExpr) AS BIGINT) AS amin,
       |      CAST(max($aExpr) AS BIGINT) AS amax,
       |      CAST(min($bExpr) AS BIGINT) AS bmin,
       |      CAST(max($bExpr) AS BIGINT) AS bmax
       |    FROM $table) ext) _k${tailOrder(d, idCol)}""".stripMargin
  }

  /** Token-budget domain mixing — the token-weighted face of
    * [[domainMixSql]]: every source shard contributes documents (in
    * stable doc_id order) until its TOKEN budget is exhausted, the way
    * a training mixture is actually specified ("x billion tokens of
    * web, y of code"), rather than by row-sampling rates. Even-indexed
    * sources get `budgetEven` tokens, odd-indexed `budgetOdd`.
    *
    * A document is kept iff it STARTS before its shard's budget
    * boundary (cum - tokens < budget), so the boundary document that
    * crosses the budget is included — the truncate-after semantics of
    * sequence-packed corpora. Pure integer window arithmetic: one
    * shuffle on source, exact in any engine.
    */
  def tokenBudgetMixSql(d: Dialect, table: String = "documents",
      budgetEven: Int = 800, budgetOdd: Int = 300): String =
    s"""SELECT doc_id, source, tokens,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  CAST(budget AS BIGINT) AS budget
       |FROM (
       |  SELECT doc_id, source, tokens, cum,
       |    CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
       |         THEN $budgetEven ELSE $budgetOdd END AS budget
       |  FROM ${cumTokens(d, table)} _ct) _c
       |WHERE cum - tokens < budget${tailOrder(d, "source, doc_id")}""".stripMargin

  /** Deterministic train/val/test split (90/5/5): a multiplicative-
    * hash uniform like [[domainMixSql]]'s but under a DIFFERENT
    * multiplier, so the split draw scatters any interval of the mixing
    * draw across its own range (an additive constant would NOT do
    * this: u_mix + c is perfectly correlated with u_mix, and splitting
    * a mix-survivor set would then yield zero val/test rows).
    * Idempotent at any scale: re-runs, retries, and late-arriving
    * shards always agree on every row's split — the property that
    * keeps eval sets leak-free.
    */
  /** Corpus snapshot diff — the dataset-versioning primitive: which
    * documents were added, removed, or changed between two corpus
    * versions. One co-partitioned FULL OUTER JOIN on the id — the
    * engine-level diff that works on plain parquet snapshots (a
    * storage layer's change feed restates this when available).
    * `IS DISTINCT FROM` keeps NULL payloads honest. Emits only the
    * differing rows; at 100 TB the unchanged majority never leaves
    * the join.
    */
  def snapshotDiffSql(d: Dialect, oldTable: String, newTable: String,
      idCol: String = "doc_id", payloadCol: String = "text"): String =
    s"""SELECT COALESCE(o.$idCol, n.$idCol) AS $idCol,
       |  CASE WHEN o.$idCol IS NULL THEN 'added'
       |       WHEN n.$idCol IS NULL THEN 'removed'
       |       ELSE 'changed' END AS status
       |FROM $oldTable o FULL OUTER JOIN $newTable n
       |  ON o.$idCol = n.$idCol
       |WHERE o.$idCol IS NULL OR n.$idCol IS NULL
       |   OR o.$payloadCol IS DISTINCT FROM n.$payloadCol${
        tailOrder(d, idCol)}""".stripMargin

  /** Curriculum ordering (Bengio et al. 2009, "Curriculum Learning"):
    * an easy-first training order — documents binned by quality, a
    * deterministic shuffle WITHIN each bin, and one integer sort key
    * encoding (bin, draw, id) that a writer range-partitions by.
    *
    * Deliberately window-free: bins come from FIXED thresholds over
    * the [0,1]-normalized composite quality score (not ntile — a
    * global ntile/row_number window funnels the corpus through one
    * task), and the shuffle-within-bin is the same Knuth-multiplier
    * draw as [[datasetSplitSql]], so the whole face is a pure
    * projection. At 100 TB the training-order write is
    * `repartitionByRange($"ckey").sortWithinPartitions($"ckey")` —
    * shards come out curriculum-ordered with no global sort bottleneck
    * beyond the range exchange itself. Exact BIGINT arithmetic
    * end-to-end (quality is 4-decimal-quantized, so `*10000` is
    * integral), hence hash-restatable.
    */
  def curriculumSql(d: Dialect, table: String = "documents"): String =
    s"""SELECT doc_id, CAST(bin AS INT) AS bin,
       |  CAST(bin * 1000000000000 + u * 1000000 + (doc_id % 1000000)
       |       AS BIGINT) AS ckey
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN quality >= 0.75 THEN 0
       |         WHEN quality >= 0.5 THEN 1
       |         WHEN quality >= 0.25 THEN 2
       |         ELSE 3 END AS bin,
       |    ((doc_id % 1000000) * 2654435761) % 1000000 AS u
       |  FROM ${TextAnalysis.qualityScored(d, table, "doc_id")}) _c${
        tailOrder(d, "ckey")}""".stripMargin

  def datasetSplitSql(d: Dialect, table: String = "documents"): String =
    s"""SELECT doc_id, source, u,
       |  CASE WHEN u < 900000 THEN 'train'
       |       WHEN u < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, source,
       |    ((doc_id % 1000000) * 2246822519 + 40503) % 1000000 AS u
       |  FROM $table) _t${tailOrder(d, "doc_id")}""".stripMargin

  /** Leakage-safe split: duplicate documents must land in the SAME
    * fold — a copy of a training document inside the test set is
    * eval leakage (the Lee et al. 2022 dedup motivation). The split
    * draw therefore keys on the duplicate-GROUP representative (the
    * min doc_id sharing the text's md5; same grouping as
    * `Dedup.exactGroups`), not on the document: every member of a dup
    * group draws the same `u`, so the group moves as one. Same LCG
    * draw as [[datasetSplitSql]]. Near-dup-safe variants compose the
    * MinHash pair graph's connected components as the key instead
    * (`Dedup.connectedComponents`, whose unbounded-diameter closure
    * a fixed SQL template cannot restate).
    */
  def leakageSplitSql(d: Dialect, table: String = "documents"): String =
    s"""SELECT doc_id, kept_id, u,
       |  CASE WHEN u < 900000 THEN 'train'
       |       WHEN u < 950000 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (
       |  SELECT doc_id, kept_id,
       |    ((kept_id % 1000000) * 2246822519 + 40503) % 1000000 AS u
       |  FROM (
       |    SELECT doc_id,
       |      min(doc_id) OVER (PARTITION BY md5(text)) AS kept_id
       |    FROM $table) _g) _t${tailOrder(d, "doc_id")}""".stripMargin

  /** DSIR-style importance scoring (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by the log-likelihood ratio of its tokens under a
    * TARGET unigram LM (the clean slice — doc_id % 10 < 3, standing in
    * for Wikipedia/books) vs the RAW corpus LM, both add-one smoothed
    * over the shared vocabulary. Positive mean ratio ⇒ the document
    * looks more like the target than like average raw text ⇒ keep.
    * (The paper hashes n-gram features to a fixed bucket count as a
    * memory optimization; word-keyed counts are the same estimator
    * with the collision step removed — at Spark scale the count table
    * is a sharded relation, not driver memory, so the optimization is
    * unnecessary.)
    *
    * Cross-engine exactness: the [[lmPerplexitySql]] trick — each
    * word's log-ratio is quantized to integer 1e-4 nats BEFORE the
    * per-document sum, and the single `ln` sees an identically-formed
    * argument in both engines.
    */
  def dsirScoreSql(d: Dialect, table: String = "documents"): String = {
    val mat = if (d == SparkDialect) "" else " MATERIALIZED"
    s"""WITH w AS$mat (
       |${CorpusStats.explodeWords(d, table)}),
       |tot AS (SELECT
       |  CAST(sum(CASE WHEN doc_id % 10 < 3 THEN 1 ELSE 0 END) AS DOUBLE)
       |    AS nt,
       |  CAST(sum(CASE WHEN doc_id % 10 >= 3 THEN 1 ELSE 0 END) AS DOUBLE)
       |    AS nr,
       |  CAST(count(DISTINCT w) AS DOUBLE) AS v
       |  FROM w),
       |cnt AS (SELECT w,
       |  sum(CASE WHEN doc_id % 10 < 3 THEN 1 ELSE 0 END) AS ct,
       |  sum(CASE WHEN doc_id % 10 >= 3 THEN 1 ELSE 0 END) AS cr
       |  FROM w GROUP BY w)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  floor(CAST(sum(qq) AS DOUBLE) / count(*) + 0.5) / 10000 AS dsir,
       |  CAST(CASE WHEN sum(qq) > 0 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM (
       |  SELECT w.doc_id,
       |    CAST(floor(ln(
       |      ((CAST(cnt.ct AS DOUBLE) + 1) * (tot.nr + tot.v)) /
       |      ((CAST(cnt.cr AS DOUBLE) + 1) * (tot.nt + tot.v))
       |    ) * 10000 + 0.5) AS BIGINT) AS qq
       |  FROM w JOIN cnt ON w.w = cnt.w CROSS JOIN tot
       |) _s
       |GROUP BY doc_id${tailOrder(d, "doc_id")}""".stripMargin
  }

  /** CC-Net-style n-gram LM quality scoring (Wenzek et al. 2020): fit a
    * word-bigram language model with add-one smoothing on a fixed
    * training slice (doc_id % 10 < 3 — in production, a known-clean
    * corpus like Wikipedia), then score EVERY document by its mean
    * negative log-likelihood under that model; low-perplexity documents
    * look like the clean slice, high-perplexity ones are filtered.
    *
    * Cross-engine exactness: each bigram's log-prob is quantized to an
    * integer number of 1e-4 nats BEFORE aggregation —
    * `floor(ln(p)*1e4 + 0.5)` as BIGINT — so the per-document sum is
    * exact integer arithmetic and immune to both engines' float
    * summation order; the mean divides two integers identically at the
    * end. (Summing raw doubles would hash-diverge: Spark and DuckDB
    * aggregate in different orders.)
    *
    * Scale shape: two groupBy aggregations over the train-slice bigram
    * stream (partial-agg'd word counts), then two equi-joins of the
    * corpus bigram stream against those counts — the model IS a
    * DataFrame, never driver-resident, so a trillion-bigram count table
    * shards like any other relation. AQE broadcasts the counts when
    * they are small.
    */
  def lmPerplexitySql(d: Dialect, table: String = "documents"): String = {
    // MATERIALIZED stops DuckDB's CTE inlining from re-expanding the
    // bigram pipeline once per reference (train is referenced 3x);
    // Spark SQL has no such keyword and reuses exchanges on its own.
    val mat = if (d == SparkDialect) "" else " MATERIALIZED"
    s"""WITH big AS$mat (
       |${bigramStream(d, table)}),
       |train AS$mat (SELECT * FROM big WHERE doc_id % 10 < 3),
       |c2 AS (SELECT w1, w2, count(*) AS n2 FROM train GROUP BY w1, w2),
       |c1 AS (SELECT w1, count(*) AS n1 FROM train GROUP BY w1),
       |vocab AS (SELECT count(DISTINCT w) AS v FROM (
       |  SELECT w1 AS w FROM train UNION ALL SELECT w2 AS w FROM train) _u)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  floor(-CAST(sum(qq) AS DOUBLE) / count(*) + 0.5) / 10000 AS nll
       |FROM (
       |  SELECT b.doc_id,
       |    CAST(floor(ln(
       |      (CAST(COALESCE(c2.n2, 0) + 1 AS DOUBLE)) /
       |      (CAST(COALESCE(c1.n1, 0) + vocab.v AS DOUBLE))
       |    ) * 10000 + 0.5) AS BIGINT) AS qq
       |  FROM big b
       |  LEFT JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
       |  LEFT JOIN c1 ON b.w1 = c1.w1
       |  CROSS JOIN vocab
       |) _s
       |GROUP BY doc_id${tailOrder(d, "doc_id")}""".stripMargin
  }

  /** Adjacent word pairs of every document: (doc_id, w1, w2) rows. */
  private def bigramStream(d: Dialect, table: String): String =
    s"""SELECT doc_id, ${elemAt(d, "w", "i - 1")} AS w1,
       |  ${elemAt(d, "w", "i")} AS w2
       |FROM (
       |  SELECT doc_id, w, ${explodeSeq(d, "2", s"${d.size}(w)")} AS i
       |  FROM (
       |    SELECT doc_id, ${d.split}(trim(text), ' ') AS w
       |    FROM $table WHERE ${d.size}(${d.split}(trim(text), ' ')) >= 2
       |      AND length(trim(text)) > 0) _w) _p""".stripMargin

  /** PII redaction: mask digit runs (ids, phone-like tokens) and count
    * email-shaped tokens, per row — the pre-training scrub pass. Pure
    * regex (no backslash classes — the two parsers' escaping rules
    * differ), global replacement via the dialect-correct flag.
    */
  def piiRedactSql(d: Dialect, table: String = "customer",
      idCol: String = "c_custkey", textCol: String = "c_name"): String =
    s"""SELECT $idCol,
       |  ${replaceAll(d, textCol, "[0-9]+", "<ID>")} AS masked,
       |  ${d.size}(regexp_extract_all($textCol, '[0-9]+', 0)) AS n_digit_runs,
       |  length($textCol) - length(${replaceAll(d, textCol, "[0-9]", "")}) AS n_digits,
       |  ${d.size}(regexp_extract_all($textCol,
       |    '[A-Za-z0-9.]+@[A-Za-z0-9.]+', 0)) AS n_emails
       |FROM $table${tailOrder(d, idCol)}""".stripMargin

  /** Chunk slice as text: words [i·C+1, i·C+C] (1-based), space-joined.
    * Spark's slice takes (start, LENGTH); DuckDB's list_slice an
    * inclusive stop — both clamp a final short chunk.
    */
  private def chunkText(d: Dialect, ws: String, i: String, c: Int): String =
    if (d == SparkDialect)
      s"array_join(slice($ws, ($i) * $c + 1, $c), ' ')"
    else
      s"array_to_string(list_slice($ws, ($i) * $c + 1, ($i) * $c + $c), ' ')"

  /** CC-Net-style line-level boilerplate removal (Wenzek et al. 2020
    * §4.1: drop duplicated paragraphs/lines before model scoring) —
    * documents are REWRITTEN, not just scored: each document splits
    * into consecutive `chunkWords`-word lines, any line whose text
    * occurs in ≥ `dfCap` distinct documents (headers, footers, nav
    * boilerplate) is dropped, and the survivors re-join in order.
    * Complements q_span_dedup (which scores overlap but rewrites
    * nothing). Reference analog: the reference's row-level
    * `get_clean_text` filter (lantern_cli/src/utils/mod.rs:37-39)
    * generalized to sub-document granularity.
    *
    * Scale shape: explode → one groupBy on line text (partial-agg'd
    * count distinct) → hash join back → groupBy doc. The line-df table
    * shards like any relation; no driver state, no all-pairs work.
    */
  def lineDedupSql(d: Dialect, table: String = "documents",
      chunkWords: Int = 2, dfCap: Int = 5): String = {
    val keptConcat =
      if (d == SparkDialect)
        "array_join(transform(array_sort(collect_list(" +
          "CASE WHEN df < " + dfCap + " THEN struct(i, ctext) END)), " +
          "x -> x.ctext), ' ')"
      else
        s"COALESCE(string_agg(CASE WHEN df < $dfCap THEN ctext END, " +
          "' ' ORDER BY i), '')"
    s"""WITH ch AS (
       |  SELECT doc_id, i, ${chunkText(d, "ws", "i", chunkWords)} AS ctext
       |  FROM (
       |    SELECT doc_id, ws,
       |      ${explodeSeq(d, "0",
            s"${intDiv(d, s"${d.size}(ws) + ${chunkWords - 1}",
              chunkWords.toString)} - 1")} AS i
       |    FROM (SELECT doc_id, ${d.split}(trim(text), ' ') AS ws
       |          FROM $table WHERE length(trim(text)) > 0) _w) _x),
       |df AS (SELECT ctext, count(DISTINCT doc_id) AS df
       |       FROM ch GROUP BY ctext)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
       |  CAST(sum(CASE WHEN df >= $dfCap THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped,
       |  ${r4(s"CAST(sum(CASE WHEN df < $dfCap THEN 1 ELSE 0 END) AS DOUBLE)" +
           " / CAST(count(*) AS DOUBLE)")} AS kept_frac,
       |  $keptConcat AS kept_text
       |FROM (SELECT ch.doc_id, ch.i, ch.ctext, df.df
       |      FROM ch JOIN df ON ch.ctext = df.ctext) _j
       |GROUP BY doc_id${tailOrder(d, "doc_id")}""".stripMargin
  }

  /** Supervised Naive-Bayes quality classifier — the fasttext-style
    * linear classifier of CC-Net/GPT-3 data curation (Wenzek et al.
    * 2020 §4.2; Brown et al. 2020 app. A), as one SQL template: train
    * multinomial NB with add-one smoothing on a deterministic seed
    * slice (doc_id % 10 < 3, labels = `lang = 'en'` as the stand-in
    * "looks like the reference corpus" class), then score EVERY
    * document by its total token log-odds plus the class-prior
    * log-odds. Differs from [[dsirScoreSql]] (unsupervised importance
    * ratio between corpus slices): this one is label-supervised with a
    * per-class generative model and a decision threshold.
    *
    * Cross-engine exactness: every log is quantized to integer 1e-4
    * nats BEFORE summation (the [[lmPerplexitySql]] trick), so scores
    * are exact BIGINTs and the compare is hash-identical.
    *
    * Scale shape: the model is two aggregations over the seed slice
    * (per-token class counts + totals), both DataFrames — never
    * driver-resident; scoring is one hash join of the corpus token
    * stream against the count table (AQE broadcasts it when small).
    */
  /** Per-document tf-idf keywords: the top 3 terms of every document
    * by tf · idf, idf = ln((N+1)/(df_t+1)) — the classic summarize/
    * route/tag primitive (Spärck Jones 1972). The idf is quantized to
    * integer 1e-4 nats BEFORE the tf multiply (the [[lmPerplexitySql]]
    * trick), so scores are exact BIGINTs and ranking ties break on
    * the term string — hash-identical across engines.
    *
    * Scale shape: two aggregations over the token stream (per-doc tf,
    * per-term df) + one hash join of tf against the term table (AQE
    * broadcasts the df side when vocab is small); the top-3 window
    * partitions by doc_id, whose groups are bounded by document
    * length, never corpus size.
    */
  def keywordsSql(d: Dialect, table: String = "documents",
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 3): String = {
    val mat = if (d == SparkDialect) "" else " MATERIALIZED"
    s"""WITH tok AS$mat (
       |  SELECT $idCol AS doc_id, ${if (d == SparkDialect)
            "w FROM (SELECT " + idCol + ", " + textCol + " FROM " + table +
              " WHERE length(trim(" + textCol + ")) > 0) _d " +
              "LATERAL VIEW explode(split(trim(" + textCol + "), ' ')) _t AS w"
          else
            s"unnest(string_split(trim($textCol), ' ')) AS w FROM $table " +
              "WHERE length(trim(" + textCol + ")) > 0"}),
       |tf AS$mat (SELECT doc_id, w, count(*) AS tf FROM tok
       |  WHERE w != '' GROUP BY doc_id, w),
       |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
       |dft AS (SELECT w, CAST(count(*) AS DOUBLE) AS df_t
       |  FROM tf GROUP BY w),
       |sc AS (
       |  SELECT tf.doc_id, tf.w AS term,
       |    tf.tf * CAST(floor(ln((nd.n + 1) / (dft.df_t + 1)) * 10000
       |      + 0.5) AS BIGINT) AS score
       |  FROM tf JOIN dft ON tf.w = dft.w CROSS JOIN nd)
       |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, score FROM (
       |  SELECT doc_id, term, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term) AS rnk
       |  FROM sc) _r
       |WHERE rnk <= $k ORDER BY doc_id, rnk""".stripMargin
  }

  def nbQualitySql(d: Dialect, table: String = "documents"): String = {
    val mat = if (d == SparkDialect) "" else " MATERIALIZED"
    def q(x: String) = s"CAST(floor(ln($x) * 10000 + 0.5) AS BIGINT)"
    s"""WITH w AS$mat (
       |  SELECT doc_id, lang, ${if (d == SparkDialect)
            "w FROM (SELECT doc_id, lang, text FROM " + table +
              " WHERE length(trim(text)) > 0) _d " +
              "LATERAL VIEW explode(split(trim(text), ' ')) _t AS w"
          else
            s"unnest(string_split(trim(text), ' ')) AS w FROM $table " +
              "WHERE length(trim(text)) > 0"}),
       |seed AS$mat (SELECT * FROM w WHERE doc_id % 10 < 3),
       |pri AS (SELECT
       |  count(DISTINCT CASE WHEN lang = 'en' THEN doc_id END) AS nh,
       |  count(DISTINCT CASE WHEN lang != 'en' THEN doc_id END) AS nl
       |  FROM seed),
       |tot AS (SELECT
       |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS th,
       |  CAST(sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS tl,
       |  CAST(count(DISTINCT w) AS DOUBLE) AS v
       |  FROM seed),
       |cnt AS (SELECT w,
       |  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ch,
       |  sum(CASE WHEN lang != 'en' THEN 1 ELSE 0 END) AS cl
       |  FROM seed GROUP BY w)
       |SELECT doc_id, n_words, score_q AS nb_score_q,
       |  CAST(CASE WHEN score_q > 0 THEN 1 ELSE 0 END AS INT) AS pred
       |FROM (
       |  SELECT s.doc_id, s.n_words,
       |    s.tok_q + ${q("(CAST(pri.nh AS DOUBLE) + 1) / (CAST(pri.nl AS DOUBLE) + 1)")}
       |      AS score_q
       |  FROM (
       |    SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |      CAST(sum(
       |        ${q("(CAST(COALESCE(cnt.ch, 0) AS DOUBLE) + 1) / (tot.th + tot.v)")} -
       |        ${q("(CAST(COALESCE(cnt.cl, 0) AS DOUBLE) + 1) / (tot.tl + tot.v)")}
       |      ) AS BIGINT) AS tok_q
       |    FROM w LEFT JOIN cnt ON w.w = cnt.w CROSS JOIN tot
       |    GROUP BY w.doc_id) s CROSS JOIN pri
       |) _o${tailOrder(d, "doc_id")}""".stripMargin
  }
}
