package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY narrows the dump for focused iteration (same
    // contract as Bench); the driver never sets it → full dump.
    SparkEntry.selectedQueries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    // the sink faces' oracles read the sinks this JVM wrote
    SparkEntry.writeOracleJson(s"$outDir/oracle_sql.json",
      graft.queries.SourceQueries.resolveSinks)
    spark.stop()
  }
}
