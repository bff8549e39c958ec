package graft

/** Writes SparkEntry.oracleSql as JSON without running any query — lets
  * local iteration check DuckDB-side syntax of new oracles in seconds
  * instead of a full Verify pass.
  */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/oracle_sql.json"
    SparkEntry.writeOracleJson(out)
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to $out")
  }
}
