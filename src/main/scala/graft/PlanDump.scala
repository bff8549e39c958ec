package graft

/** Dump `.explain("formatted")` for registry queries — the plan
  * evidence the optimization rounds commit under `plans/r{N}/`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> q1,q2,...
  * Writes <outDir>/<query>_<suffix>.txt per query. Same session as
  * Bench (`GraftSession.fromEnv()`) so the dumped initial plans match
  * what the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    val Array(sfDir, outDir, suffix, qcsv) = args
    val spark = GraftSession.fromEnv()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outDir))
    qcsv.split(',').map(_.trim).filter(_.nonEmpty).foreach { q =>
      val df = SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${q}_$suffix.txt " +
        s"(${txt.count(_ == '\n')} lines)")
    }
    spark.stop()
  }
}
