package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session defaults for the graft engine.
  *
  * local[32] here stands in for a multi-executor cluster; every setting is
  * one that also makes sense at 1000 executors (AQE on, modest shuffle
  * partition count locally — on a real cluster this would be sized to
  * ~2-3x total cores or governed by AQE coalescing).
  */
object GraftSession {
  def builder(master: String = "local[32]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Create (or reuse) a session with ALL graft SQL surfaces
    * registered: vector distance expressions, text-hash expressions
    * (simhash64 / rolling_fingerprint / hash_embedding), and the
    * text_embedding/clip_text functions (F1/F4).
    */
  def getOrCreate(master: String = "local[32]"): SparkSession =
    register(builder(master).getOrCreate())

  /** The session every graft main runs on: `local[n]` with n from
    * SPARK_GRAFT_CPUS (default: the available processors), one shuffle
    * partition per core, every graft SQL surface registered, Spark
    * logging at WARN. Driver heap is fixed at JVM launch (`-Xmx`), not
    * here.
    */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = register(builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // sessions already registered, by identity (SparkSession keeps
  // Object equality); weak, so a stopped session is not pinned
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register every graft SQL surface on an EXISTING session — the
    * entry point for a stock spark-shell (`GraftSession.register(spark)`)
    * or any externally-built session. A session is registered once: a
    * repeat call on it is a no-op, while `newSession()` is a new session
    * and gets registered.
    */
  def register(s: SparkSession): SparkSession = synchronized {
    if (!registered.contains(s)) {
      graft.functions.VectorFunctions.register(s)
      graft.functions.TextFunctions.register(s)
      graft.embed.EmbeddingPipeline.register(s)
      graft.plans.IndexedKnn.ensureRule(s)
      registered.add(s)
    }
    s
  }

  /** Read one of the driver-generated test tables from a sf directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
