package graft

/** Benchmark main: runs every registry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * The session is `GraftSession.fromEnv()`: local[SPARK_GRAFT_CPUS],
  * shuffle partitions matching cores (AQE coalesces further).
  *
  * Methodology: each query runs SPARK_GRAFT_REPS times (default 3) and
  * reports the per-query MIN — single runs on a noisy box showed 6x
  * jitter on trivial scans. The cache is NOT cleared between queries:
  * operators memoize shared intermediates (shingle sets, similarity
  * pairs, the IVF index) exactly as a session running the full suite
  * would, so the suite measures the pipeline a user gets, not N
  * artificially cold starts.
  *
  * Self-diagnosis keys (so one artifact answers "why is this line
  * slow" without a rerun): "rep_times" carries every rep in run order
  * — first-rep-only cost is shared cold state handed to whichever
  * query ran first, uniform cost is the query itself; "build_split"
  * carries instrumented index-construction seconds (BuildTimer around
  * IvfIndex build/append/load) vs pure search for the min rep of every
  * index-bearing face.
  */
object Bench {
  /** 1-minute loadavg, or -1 where /proc is unavailable — recorded at
    * suite start and end so a contended run identifies itself in the
    * artifact (r13's driver bench was contention-corrupted and nothing
    * in the artifact could prove it).
    */
  private def loadavg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()

    // JVM/codegen warm-up on the smallest SF so per-query numbers
    // measure the plan, not first-use compilation: one relational
    // query, plus the dedup path (shingle/minhash UDFs + TopK
    // aggregate are the JIT-heaviest code).
    Seq("q_pricing_summary", "q_jaccard_dups", "q_knn").foreach { q =>
      try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => }
    }
    spark.catalog.clearCache()

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // SPARK_GRAFT_ONLY narrows the suite for focused profiling runs.
    val selected = SparkEntry.selectedQueries
    val loadStart = loadavg()
    // Per rep: wall seconds, index-build seconds within it (drained
    // from BuildTimer — real instrumented time in IvfIndex
    // build/append/load, not a derived cold-vs-warm guess), success.
    case class Rep(sec: Double, build: Double, ok: Boolean)
    val results = selected.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // a failed rep must never become the reported min — take the
        // min over SUCCESSFUL reps; if every rep failed, report the
        // summed wall time so the failure is visible, not flattering
        val times = (0 until reps).map { _ =>
          graft.util.BuildTimer.drainSeconds()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          Rep((System.nanoTime() - t0) / 1e9,
            graft.util.BuildTimer.drainSeconds(), ok)
        }
        val good = times.filter(_.ok)
        val reported =
          if (good.nonEmpty) good.map(_.sec).min else times.map(_.sec).sum
        (name, reported, times)
    }
    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    // All rep times in run order: a first rep far above the min marks
    // a query that paid shared cold state (run-order artifact), while
    // uniformly high reps mark real per-invocation cost — the two
    // cases BENCH_r{N}.json could not previously distinguish.
    val repTimes = results.map { case (k, _, ts) =>
      "\"" + k + "\":" + ts.map(t => f"${t.sec}%.3f")
        .mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Build/search split for index-bearing faces, from the min rep:
    // "build" is instrumented index construction (k-means, partitioned
    // writes, artifact loads); "search" is the rest of the query.
    val split = results.flatMap { case (k, _, ts) =>
      val good = ts.filter(_.ok)
      if (good.isEmpty) None
      else {
        val m = good.minBy(_.sec)
        if (m.build < 0.005) None
        else Some("\"" + k + "\":" +
          f"""{"build":${m.build}%.3f,""" +
          f""""search":${math.max(0.0, m.sec - m.build)}%.3f}""")
      }
    }
    val splitJson = split.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Contention canary: re-run the suite's FIRST face once at suite
    // end and compare to its recorded min. Identical code measured
    // minutes apart can only drift through external load (or heap
    // state) — a large drift ratio marks the whole run's wall-clock as
    // contended, from the artifact alone. r13's 32-core driver run was
    // judged contention-corrupted only by cross-referencing a separate
    // 8-core run; this makes the next such run self-identifying.
    val canary = results.headOption.map { case (name, min, _) =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => }
      val sec = (System.nanoTime() - t0) / 1e9
      val drift = if (min > 0) sec / min else -1.0
      (name, sec, min, drift)
    }
    val loadEnd = loadavg()
    val canaryJson = canary.map { case (n, s, m, d) =>
      f"""{"query":"$n","end_sec":$s%.3f,"suite_min_sec":$m%.3f,"drift":$d%.2f}"""
    }.getOrElse("null")
    val envJson =
      f""""load_start":$loadStart%.2f,"load_end":$loadEnd%.2f,"canary":$canaryJson"""
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$reps,"sf":"$sfDir",$envJson,"rep_times":$repTimes,"build_split":$splitJson}"""
    println(json)
    // The driver's captured stdout tail truncates on long suites (r5
    // lost 8 queries from round-over-round comparison); the complete
    // per-query record therefore ALWAYS lands in a file — at
    // SPARK_GRAFT_BENCH_OUT when set, ./bench_full.json otherwise
    // (r13's round-over-round comparison came up empty solely because
    // the env var wasn't set and the stdout tail truncated).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    spark.stop()
    // The driver parses its captured TAIL (last ~2k chars): the full
    // per-query line above is ~10 KB and lands mid-truncated, which is
    // why BENCH_r07..r09 all recorded "parsed": null. Emit a compact
    // summary as the LAST stdout line (after spark.stop(), ahead of
    // nothing) that always fits the tail; the full artifact stays in
    // the first line + the out file.
    val failed = results.collect {
      case (k, _, ts) if ts.forall(!_.ok) => k
    }
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","reps":$reps,"n_queries":${results.size},"n_failed":${failed.size},"out":"$outPath",$envJson,"detail":"full per-query JSON on first output line and in the out file"}""")
  }
}
