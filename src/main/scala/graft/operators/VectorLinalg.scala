package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** One-pass vector moments: count, per-dimension mean, and the full
  * population covariance matrix (upper triangle) of an ARRAY<FLOAT> /
  * ARRAY<DOUBLE> column, as a mergeable TypedImperativeAggregate.
  *
  * The 100 TB shape: each partition folds its rows into ONE buffer of
  * O(d^2) doubles (d = vector dimension, e.g. 64 -> 2080 cells), so
  * the exchange moves |partitions| buffers regardless of corpus size —
  * the same bounded-model contract as the PQ codebook fit
  * (reference capability analog: `lantern_extras/src/pq.rs` trains
  * per-subvector statistics over the corpus; this is the full-matrix
  * second-moment sibling that PCA/whitening/OOD-scoring need).
  *
  * cov(i,j) = E[x_i x_j] - E[x_i] E[x_j] over sums accumulated in
  * double. For embedding-scale values (|x| ~ O(1)) the cancellation
  * error is ~1e-12 relative; faces round to 4 decimals.
  */
final class MomentsBuffer(var n: Long, var sums: Array[Double],
    var prods: Array[Double]) {
  def add(a: ArrayData, f64: Boolean): Unit = {
    val d = a.numElements()
    if (sums == null) {
      sums = new Array[Double](d)
      prods = new Array[Double](d * (d + 1) / 2)
    } else require(d == sums.length,
      s"ragged vector column: got dimension $d after ${sums.length}")
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      x(i) = if (f64) a.getDouble(i) else a.getFloat(i).toDouble
      i += 1
    }
    i = 0
    var t = 0
    while (i < d) {
      sums(i) += x(i)
      var j = i
      while (j < d) { prods(t) += x(i) * x(j); t += 1; j += 1 }
      i += 1
    }
    n += 1L
  }
  def merge(o: MomentsBuffer): Unit = {
    if (o.sums != null) {
      if (sums == null) {
        sums = o.sums.clone(); prods = o.prods.clone(); n = o.n
      } else {
        var i = 0
        while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
        i = 0
        while (i < prods.length) { prods(i) += o.prods(i); i += 1 }
        n += o.n
      }
    }
  }
}

case class VectorMoments(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MomentsBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def prettyName: String = "vector_moments"
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("mean", ArrayType(DoubleType, containsNull = false)),
    StructField("cov", ArrayType(DoubleType, containsNull = false))))

  private lazy val isF64: Boolean = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def createAggregationBuffer(): MomentsBuffer =
    new MomentsBuffer(0L, null, null)

  override def update(buf: MomentsBuffer, input: InternalRow): MomentsBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData], isF64)
    buf
  }

  override def merge(b1: MomentsBuffer, b2: MomentsBuffer): MomentsBuffer = {
    b1.merge(b2); b1
  }

  override def eval(buf: MomentsBuffer): Any = {
    if (buf.sums == null || buf.n == 0L) return null
    val d = buf.sums.length
    val mean = new Array[Double](d)
    var i = 0
    while (i < d) { mean(i) = buf.sums(i) / buf.n; i += 1 }
    val cov = new Array[Double](d * (d + 1) / 2)
    i = 0
    var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        cov(t) = buf.prods(t) / buf.n - mean(i) * mean(j)
        t += 1; j += 1
      }
      i += 1
    }
    InternalRow(buf.n, new GenericArrayData(mean), new GenericArrayData(cov))
  }

  override def serialize(buf: MomentsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buf.sums == null) out.writeInt(-1)
    else {
      out.writeInt(buf.sums.length)
      buf.sums.foreach(out.writeDouble)
      buf.prods.foreach(out.writeDouble)
    }
    out.writeLong(buf.n)
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MomentsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val d = in.readInt()
    val (sums, prods) =
      if (d < 0) (null, null)
      else (Array.fill(d)(in.readDouble()),
        Array.fill(d * (d + 1) / 2)(in.readDouble()))
    val n = in.readLong()
    new MomentsBuffer(n, sums, prods)
  }

  override def withNewMutableAggBufferOffset(o: Int): VectorMoments =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VectorMoments =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(child = c(0))
}

/** Partial vector sum as a rollup measure: struct(n, sums) over an
  * ARRAY<FLOAT>/ARRAY<DOUBLE> column — the mergeable form of a group
  * centroid (centroid = sums / n). Carried per dim-group in a
  * materialized rollup ([[graft.plans.SummaryRewrite.VecSpec]]); its
  * merge form folds the stored partials across chunks: elementwise
  * sum + count add, exactly the associative-partial contract every
  * other rollup column obeys. O(d) buffer per group per partition. A
  * group without a vector answers null.
  */
private[graft] case object VecSumKind extends SketchKind[VecSumBuffer] {
  def name: String = "vector_sum"
  def mergeName: String = "vector_sum_merge"
  val dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(DoubleType, containsNull = false))))
  override def nullable: Boolean = true
  def storedDesc: String = "STRUCT(n BIGINT, sums ARRAY<DOUBLE>) partials"
  def inputError(types: Seq[DataType]): Option[String] = None
  def empty: VecSumBuffer = new VecSumBuffer(null, 0L)

  def update(inputs: Seq[Expression])
      : (VecSumBuffer, InternalRow) => VecSumBuffer = {
    val child = inputs.head
    val isF64 = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    (buf, row) => {
      val v = child.eval(row)
      if (v != null) {
        val a = v.asInstanceOf[ArrayData]
        if (isF64) {
          // VecSumBuffer.add reads floats; fold doubles inline
          val n = a.numElements()
          if (buf.sums == null) buf.sums = new Array[Double](n)
          else require(n == buf.sums.length,
            s"ragged vector column: got dimension $n after " +
              s"${buf.sums.length}")
          var i = 0
          while (i < n) { buf.sums(i) += a.getDouble(i); i += 1 }
          buf.count += 1L
        } else buf.add(a)
      }
      buf
    }
  }

  def decode(stored: Any): VecSumBuffer = {
    val row = stored.asInstanceOf[InternalRow]
    new VecSumBuffer(row.getArray(1).toDoubleArray(), row.getLong(0))
  }

  def combine(a: VecSumBuffer, b: VecSumBuffer): VecSumBuffer =
    if (b.sums == null) a
    else if (a.sums == null) b
    else {
      require(b.sums.length == a.sums.length,
        s"ragged vector partials: got dimension ${b.sums.length} after " +
          s"${a.sums.length}")
      var i = 0
      while (i < a.sums.length) { a.sums(i) += b.sums(i); i += 1 }
      a.count += b.count
      a
    }

  def isEmpty(buf: VecSumBuffer): Boolean =
    buf.sums == null || buf.count == 0L
  def eval(buf: VecSumBuffer): Any =
    InternalRow(buf.count, new GenericArrayData(buf.sums))

  def toBytes(buf: VecSumBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    if (buf.sums == null) out.writeInt(-1)
    else {
      out.writeInt(buf.sums.length)
      buf.sums.foreach(out.writeDouble)
    }
    out.writeLong(buf.count)
    out.flush(); bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte]): VecSumBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val sums = if (n < 0) null else Array.fill(n)(in.readDouble())
    new VecSumBuffer(sums, in.readLong())
  }
}

/** Cyclic Jacobi eigensolver for small symmetric matrices — the
  * driver-side O(d^3) step of PCA, run on the d x d covariance a
  * [[VectorMoments]] pass produced. d is the vector dimension (64
  * here, a few hundred at most in practice), so this is microseconds
  * and corpus-size-independent: the cluster does the one aggregate
  * pass, the driver diagonalizes a matrix that fits in a cache line
  * budget. Deterministic: fixed sweep order, fixed convergence
  * threshold, canonical sign (largest-|component| positive).
  */
object Jacobi {

  /** Eigen-decomposition of symmetric `a` (not mutated). Returns
    * (eigenvalues desc, eigenvectors as rows, aligned with values).
    */
  def eigSym(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = Array.tabulate(d, d)((i, j) => a(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(m)
    while (sweep < 100 && off > 1e-22) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val mkp = m(k)(p); val mkq = m(k)(q)
              m(k)(p) = c * mkp - s * mkq
              m(k)(q) = s * mkp + c * mkq
              k += 1
            }
            k = 0
            while (k < d) {
              val mpk = m(p)(k); val mqk = m(q)(k)
              m(p)(k) = c * mpk - s * mqk
              m(q)(k) = s * mpk + c * mqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(m)
      sweep += 1
    }
    // extract (value, column-vector) pairs, sort by value descending
    // (ties: original column order), canonical sign
    val pairs = Array.tabulate(d) { i =>
      val vec = Array.tabulate(d)(k => v(k)(i))
      (m(i)(i), vec)
    }
    val sorted = pairs.zipWithIndex
      .sortBy { case ((value, _), idx) => (-value, idx) }
      .map(_._1)
    sorted.foreach { case (_, vec) =>
      var best = 0
      var i = 1
      while (i < d) {
        if (math.abs(vec(i)) > math.abs(vec(best))) best = i
        i += 1
      }
      if (vec(best) < 0) {
        i = 0
        while (i < d) { vec(i) = -vec(i); i += 1 }
      }
    }
    (sorted.map(_._1), sorted.map(_._2))
  }

  private def offDiag(m: Array[Array[Double]]): Double = {
    val d = m.length
    var acc = 0.0
    var i = 0
    while (i < d) {
      var j = i + 1
      while (j < d) { acc += m(i)(j) * m(i)(j); j += 1 }
      i += 1
    }
    acc
  }
}

/** PCA model: corpus mean, top-k principal axes (rows, orthonormal),
  * their eigenvalues (= projected population variance per axis), and
  * the full covariance trace for explained-variance ratios.
  */
case class PcaModel(
    dims: Int,
    n: Long,
    mean: Array[Double],
    eigenvalues: Array[Double],
    components: Array[Array[Double]],
    trace: Double) {
  def explainedRatio: Array[Double] =
    if (trace <= 0) eigenvalues.map(_ => 0.0)
    else eigenvalues.map(_ / trace)
}

/** Principal component analysis over an embedding column, Spark-first:
  * one mergeable [[VectorMoments]] aggregate pass (cluster), a
  * [[Jacobi]] diagonalization of the d x d covariance (driver,
  * corpus-size-independent), then projection as a pure codegen'd
  * per-row map with the k x d matrix broadcast inside the expression —
  * zero shuffle, no UDF (reference capability analog: the PQ training
  * pipeline `lantern_extras/src/pq.rs` follows the same
  * aggregate-small-model-then-map shape; PCA is the dense-rotation
  * sibling used for dimension reduction, whitening and OOD scores in
  * training-data curation).
  */
object Pca {
  import graft.functions.{MatVecProject, VectorFunctions => VF}

  /** (n, mean, full symmetric covariance) from one aggregate pass. */
  def moments(df: DataFrame, vecCol: String)
      : (Long, Array[Double], Array[Array[Double]]) = {
    val aggCol = VF.col(
      VectorMoments(VF.expr(df.col(vecCol))).toAggregateExpression())
    val row = df.agg(aggCol.as("m")).selectExpr("m.n", "m.mean", "m.cov")
      .collect()(0)
    val n = row.getLong(0)
    val mean = row.getSeq[Double](1).toArray
    val tri = row.getSeq[Double](2).toArray
    val d = mean.length
    val cov = Array.ofDim[Double](d, d)
    var i = 0; var t = 0
    while (i < d) {
      var j = i
      while (j < d) { cov(i)(j) = tri(t); cov(j)(i) = tri(t); t += 1; j += 1 }
      i += 1
    }
    (n, mean, cov)
  }

  def fit(df: DataFrame, vecCol: String, k: Int): PcaModel = {
    val (n, mean, cov) = moments(df, vecCol)
    val d = mean.length
    require(k >= 1 && k <= d, s"k must be in [1, $d], got $k")
    val (values, vectors) = Jacobi.eigSym(cov)
    var trace = 0.0
    var i = 0
    while (i < d) { trace += cov(i)(i); i += 1 }
    PcaModel(d, n, mean, values.take(k), vectors.take(k), trace)
  }

  /** Append `outCol` = coordinates of `vecCol` in the model's top-k
    * basis (centered). Pure projection: no shuffle, codegen'd map.
    */
  def project(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String): DataFrame =
    df.withColumn(outCol, VF.col(MatVecProject(
      VF.expr(df.col(vecCol)),
      model.mean.toIndexedSeq,
      model.components.map(_.toIndexedSeq).toIndexedSeq)))

  /** Append `outCol` = whitened coordinates: projections scaled by
    * 1/sqrt(eigenvalue), so every axis has unit population variance.
    * Near-null axes are floored at 1e-12 to keep the map finite.
    */
  def whiten(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String): DataFrame = {
    val scaled = model.components.zip(model.eigenvalues).map {
      case (row, ev) =>
        val s = 1.0 / math.sqrt(math.max(ev, 1e-12))
        row.map(_ * s).toIndexedSeq
    }
    df.withColumn(outCol, VF.col(MatVecProject(
      VF.expr(df.col(vecCol)),
      model.mean.toIndexedSeq, scaled.toIndexedSeq)))
  }

  /** Squared Mahalanobis distance to the corpus distribution (full
    * covariance, via the whitened coordinates of a FULL-RANK model) —
    * the classical OOD / outlier score for embedding curation. Trace
    * identity: its mean over the fitting corpus is EXACTLY d, which
    * the q_mahalanobis_mean face serves as a hash-oracled invariant.
    */
  def mahalanobis(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    whiten(df, vecCol, model, "__white")
      .withColumn(outCol, aggregate(col("__white"), lit(0.0),
        (acc, x) => acc + x * x))
      .drop("__white")
  }

  /** Diagonal (z-score) squared OOD: sum_j ((x_j - mean_j)/std_j)^2 —
    * the covariance-free sibling of [[mahalanobis]], fully
    * SQL-restatable (q_ood_zscore is hash-oracled vs DuckDB). One
    * moments pass for the model, then a pure codegen'd map.
    */
  def zscoreSquared(df: DataFrame, vecCol: String,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (_, mean, cov) = moments(df, vecCol)
    val meanLit = array(mean.map(lit).toIndexedSeq: _*)
    val stdLit = array(mean.indices
      .map(i => lit(math.sqrt(cov(i)(i)))): _*)
    val z = zip_with(df.col(vecCol).cast("array<double>"), meanLit,
      (x, m) => x - m)
    val u = zip_with(z, stdLit, (a, sd) => (a / sd) * (a / sd))
    df.withColumn(outCol, aggregate(u, lit(0.0), (acc, x) => acc + x))
  }

  /** Squared reconstruction error per row against the k-dim basis:
    * |x - mean|^2 - |proj|^2 (exact for an orthonormal basis) — the
    * OOD / compression-loss score, again a pure map.
    */
  def reconstructionError(df: DataFrame, vecCol: String, model: PcaModel,
      outCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val projected = project(df, vecCol, model, "__pca_coords")
    // |x - mean|^2 via the f64 distance on a literal mean vector
    val meanLit = array(model.mean.map(lit): _*)
    projected
      .withColumn(outCol,
        greatest(lit(0.0),
          VF.l2sq_dist_f64(col(vecCol), meanLit) -
            aggregate(col("__pca_coords"), lit(0.0),
              (acc, x) => acc + x * x)))
      .drop("__pca_coords")
  }
}
