package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** What a workload needs from the run: the session, its seed and time
  * budget, the tracer, a scratch directory inside the checkout, and the
  * thread count (= local cores = HTTP clients).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    tracer: Tracer, work: String, threads: Int) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def path(name: String): String = s"$work/$name"
  def deadlineNs: Long = System.nanoTime() + seconds * 1000000000L
  private val t0 = System.nanoTime()
  /** Seconds since the workload started, for the phase log. */
  def elapsed: Double = (System.nanoTime() - t0) / 1e9
}

/** Everything one workload run reports. */
final class Outcome {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** The generic end-to-end metrics (see Main.EndToEnd). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own user-facing metrics, by the names the README
    * uses, with units.
    */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.LinkedHashMap.empty[String, Any]

  /** Count one checked operation; a Some marks it failed. */
  def check(err: Option[String]): Unit = {
    attempted += 1
    err.foreach(fail)
  }
  def fail(msg: String): Unit = failures.synchronized { failures += msg }
  /** When each phase of the run ended, in seconds from its start. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase(name: String, ctx: Ctx): Unit = phases(name) = ctx.elapsed
}

/** A started thread that keeps what it throws, so a client or reader
  * that dies mid-run is counted as a failure instead of lost.
  */
final class Worker(name: String)(body: => Unit) {
  @volatile private var thrown: Option[Throwable] = None
  private val thread = new Thread(() => body, name)
  thread.setUncaughtExceptionHandler((_, e) => thrown = Some(e))
  thread.start()

  /** Wait for the thread to end; what it threw, if anything. */
  def join(): Option[Throwable] = { thread.join(); thrown }
}

trait Workload {
  def name: String
  def run(ctx: Ctx, out: Outcome): Unit
}

object Workload {
  /** The value of `body`, or what it threw as a failure message. */
  def attempt[T](body: => T): Either[String, T] =
    try Right(body)
    catch { case scala.util.control.NonFatal(e) => Left(e.toString) }

  def time[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  val VecSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Write (id, vec[, label]) rows as `parts` parquet files. */
  def writeVectors(spark: SparkSession, path: String, ids: Array[Long],
      vecs: Array[Array[Float]], parts: Int,
      labels: Option[Array[Int]] = None): Unit = {
    val schema = labels.fold(VecSchema)(_ =>
      VecSchema.add(StructField("label", IntegerType, nullable = false)))
    val rows = ids.indices.map { i =>
      labels.fold(Row(ids(i), vecs(i).toSeq))(l =>
        Row(ids(i), vecs(i).toSeq, l(i)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts),
      schema).write.parquet(path)
  }

  /** A small query relation (id, vec), as the engine's search takes it. */
  def queries(spark: SparkSession, firstId: Long,
      vecs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vecs.zipWithIndex.map { case (v, i) =>
        Row(firstId + i, v.toSeq) }: _*), VecSchema)

  def collectNn(df: DataFrame): Seq[Checks.Nn] =
    df.select("qid", "nid", "rank", "dist").collect().toSeq.map(r =>
      Checks.Nn(r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))

  /** Each query's `nprobe` nearest centroids, ties by centroid index. */
  def probes(centroids: Array[Array[Float]], q: Array[Float],
      nprobe: Int): Seq[Int] =
    centroids.indices.map(i => (Truth.l2sq(centroids(i), q), i))
      .sorted.take(nprobe).map(_._2)

  /** Rows per cell of an index, read once outside any timed section. */
  def cellSizes(model: graft.operators.IvfIndex.Model): Map[Int, Long] =
    model.assigned.groupBy("cell_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Distance evaluations a probe-pruned search performs: for each query,
    * the rows of every cell it probes.
    */
  def distanceEvals(centroids: Array[Array[Float]], sizes: Map[Int, Long],
      qs: Seq[Array[Float]], nprobe: Int): Long =
    qs.map(q => probes(centroids, q, nprobe)
      .map(c => sizes.getOrElse(c, 0L)).sum).sum
}
