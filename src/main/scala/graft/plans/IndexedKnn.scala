package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Cast, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType}

import graft.functions.{CosineDistance, L1Distance, L2SqDistance}
import graft.operators.IvfIndex

/** Planner-transparent ANN: rewrite `ORDER BY distance(vec, const)
  * LIMIT k` over a table with a registered IVF index into an index
  * probe, the way the reference hooks the Postgres planner so a plain
  * `ORDER BY embedding <-> q LIMIT k` becomes an index scan instead of
  * a full sort (reference: lantern's access-method integration —
  * `lantern/src/hnsw/options.rs` + planner hooks; here re-expressed as
  * a Catalyst `Rule[LogicalPlan]` on `experimental.extraOptimizations`).
  *
  * The registry maps a parquet ROOT PATH (the table the index was
  * built over) to its durable index directory. The rule fires only on
  * the exact nearest-neighbor shape —
  *
  *   Limit k over Sort(dist ASC, global) over
  *     Project([id?, dist = l2sq|cos|l1(vecCol, literal)], scan(path))
  *
  * — and replaces the Sort's CHILD with the IVF search subplan
  * (probed cells only, bounded top-k aggregation), re-aliased to the
  * original output attribute ids so the enclosing Sort/Limit still
  * resolve. The Sort itself stays: it now orders at most k rows, and
  * preserves the query's ordered-result semantics for free.
  *
  * With the registered `nprobe = 0` (= probe every cell) the rewrite
  * is EXACT — same rows as the full sort, verifiable against a
  * brute-force oracle. A positive nprobe opts that table into
  * approximate search with the usual IVF recall trade, which is the
  * semantics a lantern/pgvector user already accepts when they create
  * an index. At 100 TB this turns a full-corpus scan + global sort
  * into a read of nprobe cell partitions: the PartitionFilters prune
  * is visible in `.explain` and asserted in IndexedKnnSpec.
  *
  * Scope guard: only passthrough projections of the registered id
  * column (plus the distance alias) are rewritten — a projection that
  * carries other payload columns would need a fetch-back join (the
  * heap-fetch analog), which is left to the explicit
  * `IvfIndex.search(...).join(corpus)` spelling.
  */
object IndexedKnn {

  /** A registered index: where it lives and how to search it.
    * nprobe <= 0 means probe all cells (exact). shortlist > 0 opts a
    * BQ artifact (built with `kind = Bq`) into the two-stage
    * hamming-shortlist + exact-rescore path at that depth; other
    * kinds ignore it.
    */
  case class Entry(indexDir: String, idCol: String, vecCol: String,
      nprobe: Int, shortlist: Int = 0)

  private val registry = TrieMap[String, Entry]()
  private val modelMemo = TrieMap[String, IvfIndex.Model]()

  private def qualify(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.makeQualified(p).toString
  }

  /** Register `indexDir` (written by `IvfIndex.build(..., indexDir)`)
    * as THE index for the parquet table rooted at `dataPath`, and
    * install the rewrite rule on the session. Idempotent.
    */
  def register(spark: SparkSession, dataPath: String, indexDir: String,
      idCol: String, vecCol: String, nprobe: Int = 0,
      name: String = "", shortlist: Int = 0): Unit = {
    // Drop any memoized Model for this dir: a re-registration usually
    // follows a rebuild that rewrote the part files, and a cached file
    // listing would point at deleted paths.
    modelMemo.remove(indexDir)
    graft.util.IndexDir.open(spark, indexDir)
    val q = qualify(spark, dataPath)
    registry.put(q, Entry(indexDir, idCol, vecCol, nprobe, shortlist))
    names.put(if (name.nonEmpty) name else q, q)
    ensureRule(spark)
  }

  def unregister(spark: SparkSession, dataPath: String): Unit = {
    val q = qualify(spark, dataPath)
    registry.remove(q).foreach(e => modelMemo.remove(e.indexDir))
    names.filterInPlace((_, path) => path != q)
  }

  def clear(): Unit = {
    registry.clear(); modelMemo.clear(); names.clear()
  }

  // ---- index lifecycle (F10 analog) ---------------------------------
  // One-call rebuild / drop / list over the registry and the durable
  // artifact, mirroring the reference's `_reindex_external_index`
  // (lantern_extras/src/external_index.rs:109-162): re-derive the
  // index from the CORPUS AS IT IS NOW, swap the artifact directory
  // atomically, re-register (which drops the model memo), so
  // in-flight readers keep their loaded model and the next plan sees
  // the rebuilt cells.

  private val names = TrieMap[String, String]() // name -> qualified path

  case class IndexInfo(name: String, dataPath: String, indexDir: String,
      idCol: String, vecCol: String, nprobe: Int)

  def listIndexes(): Seq[IndexInfo] =
    names.toSeq.sortBy(_._1).flatMap { case (n, path) =>
      registry.get(path).map(e =>
        IndexInfo(n, path, e.indexDir, e.idCol, e.vecCol, e.nprobe))
    }

  private def entryFor(name: String): (String, Entry) = {
    val path = names.getOrElse(name, throw new IllegalArgumentException(
      s"no index named '$name' (have: ${names.keys.mkString(", ")})"))
    (path, registry(path))
  }

  /** Rebuild the named index from the current corpus (fresh k-means at
    * the artifact's existing cell count), atomically swap the durable
    * directory, and re-register. The build lands in a sibling
    * `.rebuild` dir first, so a crash mid-build leaves the live index
    * untouched; [[graft.util.DirSwap.replace]] heals an interrupted
    * swap first and publishes with two FileSystem renames.
    */
  def reindex(spark: SparkSession, name: String,
      maxIter: Int = 5): IndexInfo = {
    val (path, e) = entryFor(name)
    val corpus = spark.read.parquet(path)
    val old = model(spark, e)
    val nCells = old.centroids.length
    val live = new org.apache.hadoop.fs.Path(e.indexDir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // a quantized artifact must rebuild AS its kind, or every search
    // after the reindex silently loses the quantized path; an SQ8
    // scalar model refits on the current corpus like the centroids
    graft.util.DirSwap.replace(fs, live)(fresh =>
      IvfIndex.build(corpus, e.idCol, e.vecCol, nCells,
        maxIter = maxIter, indexDir = Some(fresh), force = true,
        kind = IvfIndex.StorageKind.byName(old.kind.name)))
    register(spark, path, e.indexDir, e.idCol, e.vecCol, e.nprobe, name,
      e.shortlist)
    IndexInfo(name, path, e.indexDir, e.idCol, e.vecCol, e.nprobe)
  }

  /** Compact the named index's cell files in place (see
    * [[IvfIndex.compact]]) and re-register, so the next plan reads the
    * compacted file listing. Search results are unchanged — only the
    * file layout is; the op exists because every [[IvfIndex.append]]
    * leaves one more file per touched cell and probe cost grows with
    * file count, not just bytes.
    */
  def compactIndex(spark: SparkSession, name: String,
      targetFilesPerCell: Int = 1): graft.util.CompactionStats = {
    val (path, e) = entryFor(name)
    val stats = IvfIndex.compact(spark, e.indexDir, targetFilesPerCell)
    register(spark, path, e.indexDir, e.idCol, e.vecCol, e.nprobe, name,
      e.shortlist)
    stats
  }

  /** Tombstone-delete ids from the named index's durable artifact
    * (see [[IvfIndex.delete]]: O(|ids|) sidecar write, physical purge
    * deferred to the next compact) and re-register, dropping the model
    * memo so the next plan reloads with the tombstones applied — the
    * right-to-be-forgotten pass over a SERVED index: subsequent
    * planner-rewritten ORDER BY distance LIMIT k queries cannot return
    * the deleted ids.
    */
  def deleteFromIndex(spark: SparkSession, name: String,
      ids: org.apache.spark.sql.DataFrame): Long = {
    val (path, e) = entryFor(name)
    val n = IvfIndex.delete(spark, e.indexDir, ids)
    register(spark, path, e.indexDir, e.idCol, e.vecCol, e.nprobe, name,
      e.shortlist)
    n
  }

  /** Unregister the named index and delete its durable artifact.
    * Queries over the table fall back to the brute-force plan (the
    * rule no longer fires), matching the reference's index DELETE
    * (`http_server/index.rs:139-174`).
    */
  def dropIndex(spark: SparkSession, name: String): Unit = {
    val (path, e) = entryFor(name)
    unregister(spark, path)
    val p = new org.apache.hadoop.fs.Path(e.indexDir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private[plans] def isEmpty: Boolean = registry.isEmpty

  private[plans] def lookup(rootPaths: Seq[String]): Option[Entry] =
    rootPaths.flatMap(registry.get).headOption

  private[plans] def model(spark: SparkSession, e: Entry): IvfIndex.Model =
    modelMemo.getOrElseUpdate(e.indexDir,
      IvfIndex.load(spark, e.indexDir, e.idCol, e.vecCol))

  /** Install [[IndexedKnnRule]] on the session's user-provided
    * optimizer batch (idempotent). Called by [[register]] and by
    * `GraftSession.register`.
    */
  def ensureRule(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    if (!cur.contains(IndexedKnnRule))
      spark.experimental.extraOptimizations = cur :+ IndexedKnnRule
  }
}

object IndexedKnnRule extends Rule[LogicalPlan] {

  import IndexedKnn._

  /** Re-entrancy latch. [[searchPlan]] optimizes the probe subplan
    * (`queryExecution.optimizedPlan`), which runs this very rule on the
    * inner plan. `IvfIndex.search` plans its probes on the driver at
    * plan time: it collects the query rows and picks each query's
    * nearest centroids (|queries| x nCells distances, bounded by a
    * parameter, never data scale). The rewrite's query is a local
    * relation, so that collect launches no Spark job; a non-local query
    * batch would cost one collect job. The latch makes the inner
    * optimization a guaranteed no-op instead of relying on the probe
    * plan not matching the sort-limit shape.
    */
  private val rewriting = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Rewrites performed (test observability: a query that fires the
    * rule must bump this exactly once — the inner probe-plan
    * optimization is latched out and must not).
    */
  private[plans] val fireCount = new java.util.concurrent.atomic.AtomicInteger()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (IndexedKnn.isEmpty || rewriting.get()) plan
    else plan.transformDown {
      case gl @ GlobalLimit(Literal(k: Int, IntegerType),
          LocalLimit(_, body)) =>
        sortOf(body).flatMap(s => rewriteSort(k, s)) match {
          case Some((oldSort, newChild)) =>
            fireCount.incrementAndGet()
            gl.transformDown {
              case s: Sort if s eq oldSort =>
                s.withNewChildren(Seq(newChild))
            }
          case None => gl
        }
      // the RANGE shape: `WHERE distance(vec, const) < r` over a
      // registered scan (PushPredicateThroughProject parks the
      // predicate directly on the relation, with the output projection
      // recomputing the same distance above it)
      case p @ Project(projList,
          org.apache.spark.sql.catalyst.plans.logical.Filter(cond,
            rel: LogicalRelation)) =>
        rewriteRange(projList, cond, rel) match {
          case Some(newPlan) =>
            fireCount.incrementAndGet(); newPlan
          case None => p
        }
    }

  /** The Sort the limit applies to — optionally through one Project
    * (PushProjectionThroughLimit parks rounding/renaming projections
    * between the limit and the sort).
    */
  private def sortOf(body: LogicalPlan): Option[Sort] = body match {
    case s: Sort => Some(s)
    case Project(_, s: Sort) => Some(s)
    case _ => None
  }

  private def metricOf(e: Expression): Option[(String, Expression,
      Expression)] = e match {
    case L2SqDistance(a, b) => Some(("l2sq", a, b))
    case CosineDistance(a, b) => Some(("cos", a, b))
    case L1Distance(a, b) => Some(("l1", a, b))
    case _ => None
  }

  /** Strip a residual to-float-array cast (SimplifyCasts removes the
    * common ones, but a nullability-only cast can survive).
    */
  private def bare(e: Expression): Expression = e match {
    case Cast(c, ArrayType(FloatType, _), _, _) => bare(c)
    case other => other
  }

  private def queryVector(e: Expression): Option[Array[Float]] =
    bare(e) match {
      case Literal(a: ArrayData, ArrayType(FloatType, _)) =>
        Some(a.toFloatArray())
      case _ => None
    }

  /** Match one ascending sort on a distance-to-constant over a
    * registered scan; return the replacement child for the Sort.
    */
  private def rewriteSort(k: Int, s: Sort): Option[(Sort, LogicalPlan)] = {
    if (!s.global || s.order.length != 1) return None
    val order = s.order.head
    if (order.direction !=
        org.apache.spark.sql.catalyst.expressions.Ascending) return None
    s.child match {
      case Project(projList, rel: LogicalRelation) =>
        val entry = rel.relation match {
          case fs: HadoopFsRelation =>
            lookup(fs.location.rootPaths.map(_.toString))
          case _ => None
        }
        entry.flatMap { e =>
          val distAlias = order.child match {
            case a: AttributeReference =>
              projList.collectFirst {
                case al: Alias if al.exprId == a.exprId => al
              }
            case _ => None
          }
          distAlias.flatMap { al =>
            metricOf(al.child).flatMap { case (metric, l, r) =>
              val (vecSide, constSide) = bare(l) match {
                case ar: AttributeReference => (Some(ar), r)
                case _ => bare(r) match {
                  case ar: AttributeReference => (Some(ar), l)
                  case _ => (None, l)
                }
              }
              // payload columns beyond the id: serve them with a
              // fetch-back join (the heap-fetch analog) instead of
              // refusing the rewrite — see searchPlanWithPayload
              val payload = projList.collect {
                case ar: AttributeReference
                    if ar.name != e.idCol &&
                      rel.output.exists(_.exprId == ar.exprId) => ar
              }
              for {
                vecAttr <- vecSide
                if vecAttr.name == e.vecCol &&
                  rel.output.exists(_.exprId == vecAttr.exprId)
                qvec <- queryVector(constSide)
                // every projection entry must be the distance alias,
                // the id, or a payload column OF THIS relation; the
                // payload path additionally refuses the vector column
                // itself (fetching it would defeat the plan) and any
                // name colliding with the probe's internal columns
                if projList.forall {
                  case x: Alias => x.exprId == al.exprId
                  case ar: AttributeReference =>
                    ar.name == e.idCol || payload.exists(_.exprId == ar.exprId)
                  case _ => false
                }
                if payload.forall(p => p.name != e.vecCol &&
                  !p.name.startsWith("__graft_"))
              } yield
                if (payload.isEmpty)
                  (s, searchPlan(e, metric, qvec, k, projList, al))
                else
                  (s, searchPlanWithPayload(e, metric, qvec, k,
                    projList, al, rel, payload))
            }
          }
        }
      case _ => None
    }
  }

  /** Match a distance-threshold predicate over a registered scan and
    * replace scan + filter with the cell-pruned range probe — the
    * planner-transparent spelling of `WHERE embedding <-> q < r`
    * (pgvector/lantern range scans). The ORIGINAL comparison is
    * re-applied on the probe's computed distance, so `<` vs `<=`
    * semantics survive exactly (the probe itself over-collects with
    * `<=`, and with the registered nprobe = 0 it probes every cell —
    * exact, brute-force restatable).
    */
  private def rewriteRange(projList: Seq[NamedExpression],
      cond: Expression, rel: LogicalRelation): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{
      LessThan, LessThanOrEqual}
    val entry = rel.relation match {
      case fs: HadoopFsRelation =>
        lookup(fs.location.rootPaths.map(_.toString))
      case _ => None
    }
    entry.flatMap { e =>
      val cmp = cond match {
        case LessThanOrEqual(m, Literal(r: Double,
            org.apache.spark.sql.types.DoubleType)) =>
          Some((false, m, r))
        case LessThan(m, Literal(r: Double,
            org.apache.spark.sql.types.DoubleType)) =>
          Some((true, m, r))
        case _ => None
      }
      cmp.flatMap { case (strict, m, r) =>
        metricOf(m).flatMap { case (metric, l, rgt) =>
          val (vecSide, constSide) = bare(l) match {
            case ar: AttributeReference => (Some(ar), rgt)
            case _ => bare(rgt) match {
              case ar: AttributeReference => (Some(ar), l)
              case _ => (None, l)
            }
          }
          for {
            vecAttr <- vecSide
            if vecAttr.name == e.vecCol &&
              rel.output.exists(_.exprId == vecAttr.exprId)
            qvec <- queryVector(constSide)
            if r > 0
            // passthrough: the registered id, plus aliases of the SAME
            // distance expression (the pushed-down projection twin)
            if projList.forall {
              case al: Alias => al.child.semanticEquals(m)
              case ar: AttributeReference => ar.name == e.idCol
              case _ => false
            }
          } yield rangePlan(e, metric, qvec, r, strict, projList)
        }
      }
    }
  }

  private def rangePlan(e: Entry, metric: String, qvec: Array[Float],
      radius: Double, strict: Boolean,
      projList: Seq[NamedExpression]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{
      LessThan, LessThanOrEqual}
    val newPlan = probePlan(e, qvec)((m, queries, nprobe) =>
      IvfIndex.rangeCandidates(m, queries, radius, nprobe, metric))
    val nid = newPlan.output.find(_.name == "nid").get
    val dist = newPlan.output.find(_.name == "dist").get
    // re-apply the ORIGINAL comparison (< vs <=) on the computed dist
    val lit = Literal(radius,
      org.apache.spark.sql.types.DoubleType)
    val filtered = org.apache.spark.sql.catalyst.plans.logical.Filter(
      if (strict) LessThan(dist, lit) else LessThanOrEqual(dist, lit),
      newPlan)
    Project(projList.map {
      case al: Alias => Alias(dist, al.name)(exprId = al.exprId)
      case ar: AttributeReference =>
        Alias(Cast(nid, ar.dataType), ar.name)(exprId = ar.exprId)
    }, filtered)
  }

  /** The optimized plan of `probe(model, queries, nprobe)` over the
    * registered index, `queries` holding the one vector `qvec`; the
    * re-entrancy latch is held while it optimizes.
    */
  private def probePlan(e: Entry, qvec: Array[Float])(
      probe: (IvfIndex.Model, DataFrame, Int) => DataFrame): LogicalPlan = {
    val spark = SparkSession.active
    val m = model(spark, e)
    val nprobe = if (e.nprobe <= 0) m.centroids.length else e.nprobe
    import spark.implicits._
    val queries = Seq((0L, qvec.toSeq)).toDF(e.idCol, e.vecCol)
    rewriting.set(true)
    try probe(m, queries, nprobe).queryExecution.optimizedPlan
    finally rewriting.set(false)
  }

  /** The registered index's top-k: scored by the artifact's kind (an
    * F16 or SQ8 index is approximate by registration, like a BQ
    * shortlist); a BQ index registered with a shortlist depth takes the
    * two-stage path at that depth, never below k.
    */
  private def searchIndex(e: Entry, k: Int, metric: String)(
      m: IvfIndex.Model, queries: DataFrame, nprobe: Int): DataFrame =
    IvfIndex.search(m, queries, k, nprobe, metric,
      shortlist = if (e.shortlist > 0) math.max(e.shortlist, k) else 0)

  /** The payload variant of [[searchPlan]]: probe as usual, then
    * fetch the requested non-vector columns back from the MATCHED
    * relation by id — the heap-fetch analog of an index scan. The
    * probe result (k rows) broadcasts into the fetch join, so the
    * base table is read once WITHOUT the vector column (the fat one)
    * and never sorted; IndexedKnnSpec pins both properties. This is
    * what makes the natural spelling —
    * `SELECT id, payload, dist ... ORDER BY dist LIMIT k` — plan well
    * instead of falling back to a corpus-wide sort.
    */
  private def searchPlanWithPayload(e: Entry, metric: String,
      qvec: Array[Float], k: Int, projList: Seq[NamedExpression],
      distAlias: Alias, rel: LogicalRelation,
      payload: Seq[AttributeReference]): LogicalPlan = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val newPlan = probePlan(e, qvec) { (m, queries, nprobe) =>
      val searched = searchIndex(e, k, metric)(m, queries, nprobe)
        .select(col("nid").as("__graft_nid"),
          col("dist").as("__graft_dist"))
      // fetch from the ORIGINAL matched relation (same exprIds play no
      // role here — a fresh wrap is a fresh scan of the same files),
      // reading only id + payload: the vector column stays unread
      val base = org.apache.spark.sql.graftshim.GraftShims
        .dataFrame(queries.sparkSession, rel)
        .select((e.idCol +: payload.map(_.name)).distinct.map(col): _*)
      base.join(broadcast(searched),
        col(e.idCol).cast("long") === col("__graft_nid"))
    }
    def out(name: String) = newPlan.output.find(_.name == name).get
    Project(projList.map {
      case al: Alias if al.exprId == distAlias.exprId =>
        Alias(out("__graft_dist"), al.name)(exprId = al.exprId)
      case ar: AttributeReference if ar.name == e.idCol =>
        Alias(Cast(out("__graft_nid"), ar.dataType), ar.name)(
          exprId = ar.exprId)
      case ar: AttributeReference =>
        Alias(out(ar.name), ar.name)(exprId = ar.exprId)
    }, newPlan)
  }

  /** Build the IVF probe subplan and re-alias its output to the
    * original projection's attribute ids.
    */
  private def searchPlan(e: Entry, metric: String, qvec: Array[Float],
      k: Int, projList: Seq[NamedExpression], distAlias: Alias)
      : LogicalPlan = {
    val newPlan = probePlan(e, qvec)(searchIndex(e, k, metric))
    val nid = newPlan.output.find(_.name == "nid").get
    val dist = newPlan.output.find(_.name == "dist").get
    Project(projList.map {
      case al: Alias if al.exprId == distAlias.exprId =>
        Alias(dist, al.name)(exprId = al.exprId)
      case ar: AttributeReference =>
        Alias(Cast(nid, ar.dataType), ar.name)(exprId = ar.exprId)
    }, newPlan)
  }
}
