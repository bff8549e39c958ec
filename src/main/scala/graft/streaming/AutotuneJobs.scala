package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.{Autotune, Knn}
import graft.util.MiniJson

/** Daemon autotune jobs — the reference daemon's second job kind
  * (`lantern_cli/src/daemon/autotune_jobs.rs`), alongside embedding
  * jobs. A job names a parquet source (the "table"), a vector column,
  * a distance operator, and (target_recall, k, n); the worker runs the
  * autotune grid with per-variant progress reporting and cooperative
  * cancellation, writes the results to the job's `autotune_results`
  * parquet (RESULT_TABLE_DEFINITION analog, autotune_jobs.rs:48-57),
  * and records the selected best variant. Status, cancel/resume and
  * the daemon loop are the shared [[JsonJobStore]] lifecycle.
  */
object AutotuneJobs {

  /** JOB_TABLE_DEFINITION analog (autotune_jobs.rs:26-45): sourceDir is
    * the "table", vecCol the "column", metric the "operator".
    */
  case class AutotuneSpec(id: Long, sourceDir: String, idCol: String,
      vecCol: String, metric: String, targetRecall: Double, k: Int,
      sampleN: Int, workDir: String) extends JsonJobStore.Spec {
    def resultsDir: String = s"$workDir/autotune_results"
  }

  /** Result field "best": the selected variant. */
  type AutotuneState = JsonJobStore.Job[AutotuneSpec]

  /** The reference's operator names (external_index/cli.rs UMetricKind)
    * that the engine computes, mapped onto its distance-function keys
    * (`dist_hamming_ops` has no distance over float vectors here).
    */
  private val operatorMetrics =
    Map("dist_l2sq_ops" -> "l2sq", "dist_cos_ops" -> "cos")

  def metricForOperator(op: String): String =
    operatorMetrics.getOrElse(op, op) // else already an engine metric name

  final class AutotuneStore(dir: String)
      extends JsonJobStore[AutotuneSpec](dir, "autotune_") {

    override protected def specFields(s: AutotuneSpec): Seq[(String, Any)] =
      Seq("sourceDir" -> s.sourceDir, "idCol" -> s.idCol,
        "vecCol" -> s.vecCol, "metric" -> s.metric,
        "targetRecall" -> s.targetRecall, "k" -> s.k,
        "sampleN" -> s.sampleN, "workDir" -> s.workDir)

    override protected def readSpec(f: MiniJson.Fields): AutotuneSpec =
      AutotuneSpec(f.long("id").get, f.str("sourceDir").get,
        f.str("idCol").get, f.str("vecCol").get, f.str("metric").get,
        f.double("targetRecall").get, f.int("k").get, f.int("sampleN").get,
        f.str("workDir").get)

    /** The INSERT INTO autotune_jobs analog. `operator` accepts the
      * reference's *_ops names or engine metric names; one whose metric
      * [[graft.operators.Knn.distance]] cannot compute is rejected here
      * with an `IllegalArgumentException`, not queued to fail later.
      */
    def add(sourceDir: String, idCol: String, vecCol: String,
        operator: String = "dist_l2sq_ops", targetRecall: Double = 99.9,
        k: Int = 10, sampleN: Int = 10000,
        workBase: String = null): AutotuneState = {
      val metric = metricForOperator(operator)
      require(Knn.metrics.contains(metric), s"autotune operator " +
        s"'$operator' has no engine distance; accepted: " +
        (operatorMetrics.keys.toSeq.sorted ++ Knn.metrics).mkString(", "))
      create(id => AutotuneSpec(id, sourceDir, idCol, vecCol, metric,
        targetRecall, k, sampleN,
        Option(workBase).getOrElse(s"$dir/work_$id")))
    }

    /** The worker body (autotune_jobs.rs:86-200): run the grid with
      * progress updates and cancellation checks, write the results
      * parquet, record the best variant.
      */
    override protected def work(spark: SparkSession, job: AutotuneState,
        progress: Progress): Seq[(String, String)] = {
      val spec = job.spec
      val df = spark.read.option("recursiveFileLookup", "true")
        .parquet(spec.sourceDir)
      val results = Autotune.run(df, spec.idCol, spec.vecCol,
        k = spec.k, sampleN = spec.sampleN, metric = spec.metric,
        targetRecall = spec.targetRecall, onProgress = progress.report)
      Autotune.toDF(spark, results)
        .write.mode("overwrite").parquet(spec.resultsDir)
      val best = Autotune.bestVariant(results, spec.targetRecall)
      Seq("best" -> s"m=${best.m},efc=${best.efConstruction},ef=${best.ef}")
    }
  }
}
