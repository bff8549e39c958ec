package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.MiniJson

/** Daemon dedup jobs — a third job kind next to embedding and autotune
  * jobs, for the engine's training-data side: a job names a parquet
  * corpus and a near-dup threshold; the worker finds MinHash near-dup
  * pairs, writes the pair set and the surviving (deduplicated) corpus,
  * and records the dup count. Same lifecycle as the other kinds
  * ([[JsonJobStore]]), with cooperative cancellation between
  * phases — the reference daemon's job-kind
  * plumbing (`lantern_cli/src/daemon/mod.rs:388-405`) generalized to
  * the operator the 100 TB pipeline actually runs nightly.
  */
object DedupJobs {

  case class DedupSpec(id: Long, sourceDir: String, idCol: String,
      textCol: String, tau: Double, workDir: String)
      extends JsonJobStore.Spec {
    def pairsDir: String = s"$workDir/dup_pairs"
    def survivorsDir: String = s"$workDir/survivors"
  }

  /** Result field "dupCount": the number of dropped near-dups. */
  type DedupState = JsonJobStore.Job[DedupSpec]

  final class DedupStore(dir: String)
      extends JsonJobStore[DedupSpec](dir, "dedup_") {

    override protected def specFields(s: DedupSpec): Seq[(String, Any)] =
      Seq("sourceDir" -> s.sourceDir, "idCol" -> s.idCol,
        "textCol" -> s.textCol, "tau" -> s.tau, "workDir" -> s.workDir)

    override protected def readSpec(f: MiniJson.Fields): DedupSpec =
      DedupSpec(f.long("id").get, f.str("sourceDir").get, f.str("idCol").get,
        f.str("textCol").get, f.double("tau").get, f.str("workDir").get)

    def add(sourceDir: String, idCol: String, textCol: String,
        tau: Double = 0.5, workBase: String = null): DedupState =
      create(id => DedupSpec(id, sourceDir, idCol, textCol, tau,
        Option(workBase).getOrElse(s"$dir/work_$id")))

    /** Pair discovery → pair write → survivor anti-join → survivor
      * write, with progress after each phase and a cancellation check
      * between the two writes.
      */
    override protected def work(spark: SparkSession, job: DedupState,
        progress: Progress): Seq[(String, String)] = {
      val spec = job.spec
      val corpus = spark.read.option("recursiveFileLookup", "true")
        .parquet(spec.sourceDir)
      val pairs = Dedup.minhashDupPairs(corpus, spec.idCol, spec.textCol,
        tau = spec.tau)
      pairs.write.mode("overwrite").parquet(spec.pairsDir)
      progress.report(50)
      val dupIds = spark.read.parquet(spec.pairsDir)
        .select(col("j").as(spec.idCol)).distinct()
      val nDups = dupIds.count()
      corpus.join(dupIds, Seq(spec.idCol), "left_anti")
        .write.mode("overwrite").parquet(spec.survivorsDir)
      // both outputs are parquet now: release exactly the relations the
      // dedup operators cached for this job. A session-wide
      // clearCache() here would also evict unrelated components'
      // materialized state (HttpApi survivor views, concurrent jobs'
      // memos) in a shared long-lived session.
      Dedup.releaseCaches()
      progress.report(100)
      Seq("dupCount" -> nDups.toString)
    }
  }
}
