package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-domain query modules under graft.queries. Every
  * entry in `queries` is an operator from SURVEY §2 (or a training-data
  * pipeline extension); entries with a DuckDB-expressible equivalent also
  * appear in `oracleSql` with IDENTICAL output column names.
  */
object SparkEntry {
  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame],
      Map[String, String])] = Seq(
    (_root_.graft.queries.RelationalQueries.queries,
      _root_.graft.queries.RelationalQueries.oracleSql),
    (_root_.graft.queries.VectorQueries.queries,
      _root_.graft.queries.VectorQueries.oracleSql),
    (_root_.graft.queries.DocumentQueries.queries,
      _root_.graft.queries.DocumentQueries.oracleSql),
    (_root_.graft.queries.EmbedQueries.queries,
      _root_.graft.queries.EmbedQueries.oracleSql),
    (_root_.graft.queries.PqQueries.queries,
      _root_.graft.queries.PqQueries.oracleSql),
    (_root_.graft.queries.CorpusQueries.queries,
      _root_.graft.queries.CorpusQueries.oracleSql),
    (_root_.graft.queries.TemporalQueries.queries,
      _root_.graft.queries.TemporalQueries.oracleSql),
    (_root_.graft.queries.SearchQueries.queries,
      _root_.graft.queries.SearchQueries.oracleSql),
    (_root_.graft.queries.PipelineQueries.queries,
      _root_.graft.queries.PipelineQueries.oracleSql),
    (_root_.graft.queries.SourceQueries.queries,
      _root_.graft.queries.SourceQueries.oracleSql)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference's headline capability: add an embedding
    * column to a table (README.md:30-44) — here over the documents
    * table with the deterministic local model, then kNN-searched.
    */
  def entry(spark: SparkSession): DataFrame = {
    graft.GraftSession.register(spark)
    queries("q_embed_docs")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base = modules.map(_._1).reduce(_ ++ _)
    // Register SQL functions on first use so query bodies may use spark.sql.
    base.map { case (k, fn) =>
      k -> ((s: SparkSession, dir: String) => {
        graft.GraftSession.register(s); fn(s, dir)
      })
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)

  /** [[queries]] narrowed to the comma-separated names in
    * SPARK_GRAFT_ONLY when it is set (focused iteration), else all.
    */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(csv) =>
        val names = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
        queries.filter(kv => names(kv._1))
      case None => queries
    }

  /** Write [[oracleSql]] to `path` as one JSON object (name → SQL),
    * each SQL passed through `resolve`.
    */
  def writeOracleJson(path: String,
      resolve: String => String = identity): Unit = {
    import graft.util.Json.quote
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      oracleSql.map { case (k, v) => s"${quote(k)}: ${quote(resolve(v))}" }
        .mkString("{", ",", "}"))
  }
}
