package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.IvfIndex
import graft.util.MiniJson

/** Daemon index-maintenance jobs — the fourth job kind next to
  * embedding, autotune, and dedup jobs: a job names a durable IVF
  * index and a file-debt threshold; the worker reads
  * [[IvfIndex.cellStats]] and runs [[IvfIndex.compact]] only when some
  * cell's file count exceeds the threshold, recording before/after
  * file totals either way. This closes the loop on append-based
  * maintenance: appends are cheap precisely because they defer the
  * rewrite, and this job is where the deferred work gets done on a
  * schedule instead of inside a query's latency budget. Same lifecycle
  * as the other kinds ([[JsonJobStore]]); reference analog: the daemon's
  * job-kind plumbing (`lantern_cli/src/daemon/mod.rs:388-405`) applied
  * to index upkeep.
  */
object IndexMaintenanceJobs {

  case class MaintSpec(id: Long, indexPath: String, idCol: String,
      vecCol: String, maxFilesPerCell: Int, targetFilesPerCell: Int)
      extends JsonJobStore.Spec

  /** Result fields "filesBefore", "filesAfter" (total cell files) and
    * "compacted" ("true" or "false").
    */
  type MaintState = JsonJobStore.Job[MaintSpec]

  final class MaintStore(dir: String)
      extends JsonJobStore[MaintSpec](dir, "maint_") {

    override protected def specFields(s: MaintSpec): Seq[(String, Any)] =
      Seq("indexPath" -> s.indexPath, "idCol" -> s.idCol,
        "vecCol" -> s.vecCol, "maxFilesPerCell" -> s.maxFilesPerCell,
        "targetFilesPerCell" -> s.targetFilesPerCell)

    override protected def readSpec(f: MiniJson.Fields): MaintSpec =
      MaintSpec(f.long("id").get, f.str("indexPath").get,
        f.str("idCol").get, f.str("vecCol").get,
        f.int("maxFilesPerCell").get, f.int("targetFilesPerCell").get)

    def add(indexPath: String, idCol: String, vecCol: String,
        maxFilesPerCell: Int = 8,
        targetFilesPerCell: Int = 1): MaintState = {
      require(maxFilesPerCell >= 1 && targetFilesPerCell >= 1)
      create(id => MaintSpec(id, indexPath, idCol, vecCol,
        maxFilesPerCell, targetFilesPerCell))
    }

    /** Stats read → compact iff some cell exceeds the file threshold →
      * stats re-read. A below-threshold index finishes successfully
      * with compacted=false and untouched files — running the job on a
      * healthy index must be free.
      */
    override protected def work(spark: SparkSession, job: MaintState,
        progress: Progress): Seq[(String, String)] = {
      val spec = job.spec
      def fileStats(): (Int, Int) = {
        val model = IvfIndex.load(spark, spec.indexPath, spec.idCol,
          spec.vecCol)
        val rows = IvfIndex.cellStats(spark, model)
          .select("n_files").collect().map(_.getInt(0))
        (rows.sum, if (rows.isEmpty) 0 else rows.max)
      }
      val (totalBefore, worst) = fileStats()
      progress.report(50)
      val needs = worst > spec.maxFilesPerCell
      if (needs)
        IvfIndex.compact(spark, spec.indexPath, spec.targetFilesPerCell)
      val totalAfter = if (needs) fileStats()._1 else totalBefore
      progress.report(100)
      Seq("filesBefore" -> totalBefore.toString,
        "filesAfter" -> totalAfter.toString, "compacted" -> needs.toString)
    }
  }
}
