package graft.plans

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SummaryRewriteSpec extends SparkSuite {
  import spark.implicits._

  private val baseDir = java.nio.file.Files
    .createTempDirectory("graft_mv_base").toString + "/fact.parquet"
  private val sumDir = java.nio.file.Files
    .createTempDirectory("graft_mv_sum").toString + "/rollup"

  private def writeBase(): Unit = {
    val rows = for {
      d <- 1 to 40; f <- Seq("A", "B"); i <- 1 to 5
    } yield (f, d.toLong * 10 + i, (i * 2).toDouble, i * 10.5,
      // tiny dyadic doubles (i / 2^20 < 1e-5): the r9 decimal(38,6)
      // partial sum silently rounded these to 0 — the sd_ native
      // partial must keep them exact (dyadic => order-independent)
      i / 1048576.0,
      // NULL-bearing measure: null for every 3rd row
      if (i % 3 == 0) null else java.lang.Double.valueOf(i * 3.0))
    rows.toDF("flag", "k", "qty", "price", "tiny", "sparse")
      .withColumn("day",
        expr("date_add(date'2024-01-01', cast(k % 28 as int))"))
      .write.mode("overwrite").parquet(baseDir)
  }

  // logical-level scan paths: AQE wraps the physical plan, so the
  // optimized logical plan is the stable place to observe the rewrite
  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.toString)
    }.flatten

  private val allMeasures = Seq("qty", "price", "tiny", "sparse")
  private def reRegister(refresh: Boolean = false): Unit =
    SummaryRewrite.register(spark, baseDir, sumDir,
      dims = Seq("flag", "day"), measures = allMeasures,
      refresh = refresh,
      // data contract: price = i * 10.5 has exactly one fractional
      // decimal digit — unlocks SUM(CAST(price AS DECIMAL(p>=17, s>=1)))
      declaredScale = Map("price" -> 1),
      // derived measures: qty * price = 21*i^2 is integer-valued in
      // double, so ruled-vs-bare comparisons below are EXACT; drev
      // carries a literal whose analyzed cast the optimizer folds —
      // the registered side must match the query's FOLDED spelling
      exprs = Seq(SummaryRewrite.ExprMeasure("rev", "qty * price"),
        SummaryRewrite.ExprMeasure("drev",
          "CAST(qty AS DECIMAL(10,1)) * 2")),
      sketches = Seq(
        // k=1024 >= every row count here: the sample IS the data, so
        // opt-in percentile serves are exact order statistics
        SummaryRewrite.SampleQSpec("k", "price", 1024),
        // HDR sketch over an integral grid of qty: the rule-path serve
        // for percentile_approx(CAST(qty AS BIGINT), q)
        SummaryRewrite.HdrSpec("qty_g", "CAST(qty AS BIGINT)")))

  writeBase()
  reRegister()

  private def base = spark.read.parquet(baseDir)

  /** Run `q` twice — with the rule and without — and return
    * (ruled scan paths, ruled rows, bare rows).
    */
  private def withAndWithout(mk: => DataFrame)
      : (Seq[String], Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val q = mk
    val got = q.collect().map(_.toSeq).toSeq
    val paths = scanPaths(q)
    SummaryRewrite.clear()
    val want = mk.collect().map(_.toSeq).toSeq
    reRegister()
    (paths, got, want)
  }

  test("grouped sum/count/min/max replan onto the rollup, value-exact") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
          min($"qty").as("mn"), max($"price").as("mx"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want)
  }

  test("dim filter rides the rollup; DECLARED-scale decimal-cast sum " +
      "translates") {
    val (paths, got, want) = withAndWithout {
      base.where($"day" >= lit("2024-01-10").cast("date"))
        .groupBy($"flag", $"day")
        .agg(sum($"price".cast("decimal(18,2)")).cast("double").as("sp"))
        .orderBy($"flag", $"day")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
  }

  test("MIN/MAX of a value-preserving decimal cast rewrites (monotone " +
      "rounding commutes with min/max); undeclared casts do not") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(min($"price".cast("decimal(18,1)")).as("mn"),
          max($"price".cast("decimal(18,2)")).as("mx"))
        .orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
    // qty has no declared scale: min of its cast must run on the base
    val q = base.groupBy($"flag")
      .agg(min($"qty".cast("decimal(18,2)")).as("mn"))
    assert(scanPaths(q).exists(_.contains("fact.parquet")))
  }

  test("decimal-cast sum of an UNDECLARED double measure does NOT " +
      "rewrite (per-row rounding is unrecoverable)") {
    // qty has no declared scale: the spelling must run on the base
    val q = base.groupBy($"flag")
      .agg(sum($"qty".cast("decimal(18,2)")).as("s"))
    assert(scanPaths(q).exists(_.contains("fact.parquet")))
    // and a cast NARROWER than the declared scale must not either
    // (price declared scale 1; casting to scale 0 re-rounds per row)
    val q2 = base.groupBy($"flag")
      .agg(sum($"price".cast("decimal(18,0)")).as("s"))
    assert(scanPaths(q2).exists(_.contains("fact.parquet")))
    assert(q.collect().length == 2 && q2.collect().length == 2)
  }

  test("sub-1e-6 double measure sums exactly via the native partial " +
      "(the r9 decimal-only rollup zeroed these)") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag").agg(sum($"tiny").as("st")).orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
    assert(want.forall(_(1).asInstanceOf[Double] > 0.0))
  }

  test("AVG and COUNT(col) rewrite, including the NULL-bearing measure") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(avg($"qty").as("aq"), avg($"sparse").as("asp"),
          count($"sparse").as("nsp"), count($"qty").as("nq"),
          count(lit(1)).as("n"))
        .orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
    // the null-bearing count really is smaller than count(*)
    want.foreach { r =>
      assert(r(3).asInstanceOf[Long] < r(5).asInstanceOf[Long])
    }
  }

  test("variance family rewrites onto the sum-of-squares partial: " +
      "pop/samp x var/stddev, NULL-bearing measure, ~1e-9 agreement") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(var_pop($"qty").as("vp"), var_samp($"qty").as("vs"),
          stddev_pop($"price").as("sp"), stddev_samp($"price").as("ss"),
          var_pop($"sparse").as("vn"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    // Welford (base) vs textbook-from-partials (rollup): same double
    // domain, rounding differs at ~1e-12 relative
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g.head == w.head)
      g.tail.zip(w.tail).foreach {
        case (null, null) =>
        case (a: Double, b: Double) =>
          assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
            s"$a vs $b")
        case (a, b) => fail(s"$a vs $b")
      }
    }
  }

  test("single-row and all-null groups: population forms serve 0/null, " +
      "sample forms null — matching Spark exactly") {
    // dedicated base: one group with 1 row, one with an all-null
    // measure, one normal
    val dir1 = java.nio.file.Files
      .createTempDirectory("graft_mv_var1").toString + "/fact.parquet"
    val sum1 = java.nio.file.Files
      .createTempDirectory("graft_mv_var1s").toString + "/rollup"
    Seq(("one", java.lang.Double.valueOf(5.0)),
        ("nul", null), ("nul", null),
        ("two", java.lang.Double.valueOf(1.0)),
        ("two", java.lang.Double.valueOf(3.0)))
      .toDF("g", "m")
      .write.mode("overwrite").parquet(dir1)
    SummaryRewrite.register(spark, dir1, sum1, Seq("g"), Seq("m"))
    def q = spark.read.parquet(dir1).groupBy($"g")
      .agg(var_pop($"m").as("vp"), var_samp($"m").as("vs"),
        stddev_pop($"m").as("sp"), stddev_samp($"m").as("ss"))
      .orderBy($"g")
    val got = q.collect().map(_.toSeq).toSeq
    val paths = scanPaths(q)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    SummaryRewrite.clear()
    val want = q.collect().map(_.toSeq).toSeq
    reRegister()
    assert(got == want) // exact: 0.0, nulls, and tiny-n arithmetic
  }

  test("variance over a DECIMAL measure does NOT rewrite") {
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_mv_var2").toString + "/fact.parquet"
    val sum2 = java.nio.file.Files
      .createTempDirectory("graft_mv_var2s").toString + "/rollup"
    Seq(("a", BigDecimal("1.50")), ("a", BigDecimal("2.25")))
      .toDF("g", "m")
      .write.mode("overwrite").parquet(dir2)
    SummaryRewrite.register(spark, dir2, sum2, Seq("g"), Seq("m"))
    val q = spark.read.parquet(dir2).groupBy($"g")
      .agg(var_pop($"m").as("vp"))
    val paths = scanPaths(q)
    assert(!paths.exists(_.contains("rollup")), s"scanned $paths")
    SummaryRewrite.unregister(spark, dir2)
    reRegister()
  }

  test("decimal AVG serves value-exactly (Average's own internal " +
      "arithmetic rebuilt from the partials), incl. nulls and a " +
      "decimal expression measure") {
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_mv_davg").toString + "/fact.parquet"
    val sum2 = java.nio.file.Files
      .createTempDirectory("graft_mv_davgs").toString + "/rollup"
    Seq(("a", BigDecimal("1.50")), ("a", BigDecimal("2.25")),
        ("a", BigDecimal("0.10")), ("b", BigDecimal("7.77")),
        ("b", null), ("c", null))
      .toDF("g", "m")
      .write.mode("overwrite").parquet(dir2)
    SummaryRewrite.register(spark, dir2, sum2, Seq("g"), Seq("m"),
      exprs = Seq(SummaryRewrite.ExprMeasure("m3", "m * 3")))
    def q = spark.read.parquet(dir2).groupBy($"g")
      .agg(avg($"m").as("a"), avg(expr("m * 3")).as("a3"),
        count(lit(1)).as("n"))
      .orderBy($"g")
    val got = q.collect().map(_.toSeq).toSeq
    val paths = scanPaths(q)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    SummaryRewrite.unregister(spark, dir2)
    val want = q.collect().map(_.toSeq).toSeq
    assert(got == want) // exact decimal division, bit-for-bit
    assert(want.exists(_(1) == null)) // the all-null group serves null
    reRegister()
  }

  test("COUNT(DISTINCT dim) and MIN/MAX(dim) rewrite exactly off the " +
      "rollup's own dim rows; COUNT(DISTINCT measure) does not") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(countDistinct($"day").as("days"),
          min($"day").as("first_day"), max($"day").as("last_day"),
          count(lit(1)).as("n"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want) // exact: dim combos survive in the rollup
    // two-dim distinct over dims-only is exact too
    val (p2, g2, w2) = withAndWithout {
      base.agg(countDistinct($"flag", $"day").as("combos"))
    }
    assert(p2.exists(_.contains("rollup")), s"scanned $p2")
    assert(g2 == w2)
    // distinct over a MEASURE is unrecoverable -> base scan
    val q = base.groupBy($"flag").agg(countDistinct($"qty").as("d"))
    assert(!scanPaths(q).exists(_.contains("rollup")),
      s"scanned ${scanPaths(q)}")
  }

  test("COUNT(dim) rewrites by excluding null-dim groups") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag").agg(count($"day").as("nd")).orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
  }

  test("non-dim filter, distinct agg, and unknown measure do NOT rewrite") {
    // filter on a measure column
    val q1 = base.where($"qty" > 4).groupBy($"flag")
      .agg(sum($"qty").as("s"))
    assert(scanPaths(q1).exists(_.contains("fact.parquet")))
    // distinct aggregate
    val q2 = base.groupBy($"flag").agg(countDistinct($"k").as("d"))
    assert(scanPaths(q2).exists(_.contains("fact.parquet")))
    // aggregate over an expression, not a bare measure
    val q3 = base.groupBy($"flag").agg(sum($"qty" * 2).as("s"))
    assert(scanPaths(q3).exists(_.contains("fact.parquet")))
    // and all three still answer correctly
    assert(q1.collect().length == 2)
    assert(q2.collect().map(_.getLong(1)).sum > 0)
    assert(q3.collect().length == 2)
  }

  test("nondeterministic filters and group keys do NOT rewrite " +
      "(rand() must sample base rows, not rollup rows)") {
    val q1 = base.where(rand(7) < 0.5).groupBy($"flag")
      .agg(count(lit(1)).as("n"))
    assert(scanPaths(q1).exists(_.contains("fact.parquet")),
      "rand() filter was re-planned onto the rollup")
    // nondeterministic group key parked in a child Project alias
    // (unwrap inlines it back — must still be refused)
    val q2 = base.withColumn("g", (rand(7) * 3).cast("int"))
      .groupBy($"g").agg(count(lit(1)).as("n"))
    assert(scanPaths(q2).exists(_.contains("fact.parquet")),
      "rand() group key was re-planned onto the rollup")
    // counts land in the right ballpark (base-row granularity)
    val n1 = q1.collect().map(_.getLong(1)).sum
    assert(n1 > 100 && n1 < 300, s"got $n1 of 400")
  }

  test("global aggregate (no grouping) rewrites too") {
    val q = base.agg(count(lit(1)).as("n"), sum($"qty").as("s"))
    val got = q.collect().head
    assert(scanPaths(q).exists(_.contains("rollup")))
    assert(got.getLong(0) == 400L)
    SummaryRewrite.clear()
    val want = base.agg(count(lit(1)).as("n"), sum($"qty").as("s"))
      .collect().head
    reRegister()
    assert(got.getDouble(1) == want.getDouble(1))
  }

  test("derived-dim grouping (week of day) rewrites and stays exact") {
    val (paths, got, want) = withAndWithout {
      base.groupBy(weekofyear($"day").as("wk"))
        .agg(count(lit(1)).as("n"), sum($"qty").as("s"),
          min($"price").as("mn"))
        .orderBy($"wk")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
  }

  test("a group expression touching a non-dim column does not rewrite") {
    val q = base.groupBy(($"k" % 10).as("b")).agg(sum($"qty").as("s"))
    assert(scanPaths(q).exists(_.contains("fact.parquet")))
    assert(q.collect().length == 5) // k = d*10+i, i in 1..5
  }

  test("integral measures serve from the exact decimal partial") {
    val intDir = java.nio.file.Files
      .createTempDirectory("graft_mv_int").toString + "/fact.parquet"
    val intSum = java.nio.file.Files
      .createTempDirectory("graft_mv_int_sum").toString + "/rollup"
    (1 to 100).map(i => (if (i % 2 == 0) "X" else "Y", i.toLong, i))
      .toDF("flag", "big", "small")
      .write.mode("overwrite").parquet(intDir)
    SummaryRewrite.register(spark, intDir, intSum,
      dims = Seq("flag"), measures = Seq("big", "small"))
    val q = spark.read.parquet(intDir).groupBy($"flag")
      .agg(sum($"big").as("sb"), sum($"small").as("ss"),
        sum($"small".cast("decimal(20,0)")).as("sd"),
        avg($"small").as("av"))
      .orderBy($"flag")
    val got = q.collect().map(_.toSeq).toSeq
    assert(scanPaths(q).exists(_.contains("rollup")))
    SummaryRewrite.unregister(spark, intDir)
    val want = spark.read.parquet(intDir).groupBy($"flag")
      .agg(sum($"big").as("sb"), sum($"small").as("ss"),
        sum($"small".cast("decimal(20,0)")).as("sd"),
        avg($"small").as("av"))
      .orderBy($"flag").collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("the rewritten scan prunes to the referenced rollup columns " +
      "(the rule runs after ColumnPruning, so it must project itself)") {
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val q = base.groupBy($"flag").agg(sum($"qty").as("s"))
    assert(scanPaths(q).exists(_.contains("rollup")))
    val phys = q.queryExecution.executedPlan.toString
    val schema = "ReadSchema: [^\\n]*".r.findFirstIn(phys).getOrElse("")
    // needs flag + the double measure's native partial only
    assert(schema.contains("sd_qty"), s"missing sd_qty in $schema")
    for (absent <- Seq("price", "tiny", "sparse", "mn_qty", "mx_qty",
        "c_qty", "cnt"))
      assert(!schema.contains(absent),
        s"unpruned rollup column $absent in $schema")
  }

  test("FILTER (WHERE dim-pred) aggregates rewrite; measure-referencing " +
      "filters do not") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(expr("count(*) FILTER (WHERE day >= date'2024-01-10')")
            .as("n_late"),
          expr("sum(qty) FILTER (WHERE day < date'2024-01-10')")
            .as("sq_early"),
          expr("avg(qty) FILTER (WHERE day >= date'2024-01-10')")
            .as("aq_late"),
          expr("min(price) FILTER (WHERE day >= date'2024-01-10')")
            .as("mn_late"),
          count(lit(1)).as("n"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want)
    // the filtered count really is a strict subset of count(*)
    want.foreach { r =>
      assert(r(1).asInstanceOf[Long] < r(5).asInstanceOf[Long])
    }
    // a filter over a MEASURE cannot ride the rollup (nondeterministic
    // FILTER expressions are rejected by Spark's own analyzer, so the
    // dimCond determinism check has no reachable counterexample here)
    val q = base.groupBy($"flag")
      .agg(expr("count(*) FILTER (WHERE qty > 4)").as("n"))
    assert(scanPaths(q).exists(_.contains("fact.parquet")),
      s"measure filter was re-planned: ${scanPaths(q)}")
  }

  test("CUBE over dims rewrites onto the rollup (Expand rebuilt over " +
      "partial columns), value-exact incl. grouping()") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.cube($"flag", $"day")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
          min($"qty").as("mn"), max($"price").as("mx"),
          avg($"qty").as("aq"),
          grouping($"flag").cast("int").as("gf"),
          grouping($"day").cast("int").as("gd"))
        .orderBy($"gf", $"gd", $"flag", $"day")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want)
    // a cube produces all four grouping-set shapes
    assert(want.map(r => (r(7), r(8))).distinct.size == 4)
  }

  test("ROLLUP and GROUPING SETS rewrite; derived-dim sets stay exact") {
    val (p1, g1, w1) = withAndWithout {
      base.rollup($"flag")
        .agg(count(lit(1)).as("n"), sum($"tiny").as("st"))
        .orderBy($"flag")
    }
    assert(p1.exists(_.contains("rollup")), s"scanned $p1")
    assert(g1 == w1)
    // SQL GROUPING SETS with a derived dim and a WHERE below the cube
    base.createOrReplaceTempView("mv_base_gs")
    val (p2, g2, w2) = withAndWithout {
      spark.sql(
        """SELECT flag, month(day) AS m, count(*) AS n, sum(qty) AS sq
          |FROM mv_base_gs
          |WHERE day >= date'2024-01-05'
          |GROUP BY GROUPING SETS ((flag), (month(day)), ())
          |ORDER BY flag NULLS FIRST, m NULLS FIRST""".stripMargin)
    }
    assert(p2.exists(_.contains("rollup")), s"scanned $p2")
    assert(g2 == w2)
  }

  test("CUBE with a measure-referencing aggregate input does NOT " +
      "rewrite; CUBE over a non-dim key does not either") {
    // sum over a derived measure expression: unrecoverable
    val q1 = base.cube($"flag").agg(sum($"qty" * 2).as("s"))
    assert(scanPaths(q1).exists(_.contains("fact.parquet")),
      s"scanned ${scanPaths(q1)}")
    // cube key over a non-dim column: base rows required
    val q2 = base.cube(($"k" % 10).as("b")).agg(sum($"qty").as("s"))
    assert(scanPaths(q2).exists(_.contains("fact.parquet")),
      s"scanned ${scanPaths(q2)}")
    assert(q1.collect().length == 3 && q2.collect().length == 6)
  }

  test("star join: fact JOIN dim-table GROUP BY dim attr serves from " +
      "the rollup joined to the dim table") {
    val dimT = Seq(("A", "alpha"), ("B", "beta")).toDF("f", "fname")
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.join(dimT, $"flag" === $"f")
        .groupBy($"fname")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
          avg($"qty").as("aq"), min($"price").as("mn"),
          countDistinct($"day").as("days"))
        .orderBy($"fname")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want)
  }

  test("star join: one-to-many dim side multiplies group partials " +
      "uniformly (multiplicity-correct counts and sums)") {
    // two dim rows match flag A -> every A-group partial counts twice
    val dimT = Seq(("A", "a1"), ("A", "a2"), ("B", "b1"))
      .toDF("f", "tag")
    val (paths, got, want) = withAndWithout {
      base.join(dimT, $"flag" === $"f")
        .groupBy($"flag")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"))
        .orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
    // the A group really did double
    val aN = want.find(_.head == "A").get(1).asInstanceOf[Long]
    val bN = want.find(_.head == "B").get(1).asInstanceOf[Long]
    assert(aN == 2 * bN, s"expected A=2*B, got $aN vs $bN")
  }

  test("star join: LEFT OUTER with the fact on the left rewrites; " +
      "post-join filter on the dim side rides") {
    val dimT = Seq(("A", "alpha")).toDF("f", "fname")
    val (p1, g1, w1) = withAndWithout {
      base.join(dimT, $"flag" === $"f", "left")
        .groupBy($"fname")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"))
        .orderBy($"fname")
    }
    assert(p1.exists(_.contains("rollup")), s"scanned $p1")
    assert(g1 == w1)
    assert(w1.exists(_.head == null)) // unmatched B rows kept
    val (p2, g2, w2) = withAndWithout {
      base.join(dimT, $"flag" === $"f")
        .where($"fname" =!= "nope")
        .groupBy($"fname").agg(sum($"qty").as("sq"))
    }
    assert(p2.exists(_.contains("rollup")), s"scanned $p2")
    assert(g2 == w2)
  }

  test("star join: dim LEFT JOIN fact (fact on the non-preserved " +
      "side) serves; COUNT(*) counts each null-extended row once") {
    // 'Z' matches nothing: its null-extended row is exactly one base
    // row — COUNT(*) counts it once, every other aggregate skips it
    val dimT = Seq(("A", "alpha"), ("B", "beta"), ("Z", "zeta"))
      .toDF("f", "fname")
    val before = SummaryRewriteRule.fireCount.get()
    val (p1, g1, w1) = withAndWithout {
      dimT.join(base, $"f" === $"flag", "left")
        .groupBy($"fname")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
          avg($"qty").as("aq"), min($"price").as("mp"),
          count($"qty").as("nq"), countDistinct($"day").as("days"))
        .orderBy($"fname")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(p1.exists(_.contains("rollup")), s"scanned $p1")
    assert(!p1.exists(_.contains("fact.parquet")), s"scanned $p1")
    assert(g1 == w1)
    // the zeta group is the null-extension witness: n=1, all else null/0
    val zeta = w1.find(_.head == "zeta").get
    assert(zeta(1) == 1L && zeta(2) == null && zeta(5) == 0L, s"$zeta")
    // mirrored spelling: fact RIGHT JOIN dim
    val (p2, g2, w2) = withAndWithout {
      base.join(dimT, $"flag" === $"f", "right")
        .groupBy($"fname")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"))
        .orderBy($"fname")
    }
    assert(p2.exists(_.contains("rollup")), s"scanned $p2")
    assert(g2 == w2)
    assert(w2.find(_.head == "zeta").get(1) == 1L)
  }

  test("snowflake: fact JOIN dim1 JOIN dim2 (two levels, filter " +
      "interleaved) serves from the rollup; value-exact") {
    val dim1 = Seq(("A", 1), ("B", 2)).toDF("f", "region_id")
    val dim2 = Seq((1, "east"), (2, "west"), (3, "north"))
      .toDF("rid", "region")
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.join(dim1, $"flag" === $"f")
        .where($"region_id" >= 1)
        .join(dim2, $"region_id" === $"rid")
        .groupBy($"region")
        .agg(count(lit(1)).as("n"), sum($"qty").as("sq"),
          avg($"price").as("ap"), countDistinct($"day").as("days"))
        .orderBy($"region")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want)
    // a dim-side aggregate still aborts at depth 2
    val q = base.join(dim1, $"flag" === $"f")
      .join(dim2, $"region_id" === $"rid")
      .groupBy($"region").agg(sum($"rid").as("s"))
    assert(scanPaths(q).exists(_.contains("fact.parquet")),
      s"level-2 dim aggregate was re-planned: ${scanPaths(q)}")
  }

  test("star join guards: measure join keys, aggregates over the dim " +
      "side, and FULL OUTER do not rewrite") {
    val dimT = Seq((2.0, "two")).toDF("q", "qname")
    // join condition touches a measure
    val j1 = base.join(dimT, $"qty" === $"q")
      .groupBy($"qname").agg(count(lit(1)).as("n"))
    assert(scanPaths(j1).exists(_.contains("fact.parquet")),
      s"measure join key was re-planned: ${scanPaths(j1)}")
    // aggregate over a dim-side column (multiplicity-weighted sum is
    // unrecoverable from the rollup)
    val dimT2 = Seq(("A", 10.0), ("B", 20.0)).toDF("f", "w")
    val j2 = base.join(dimT2, $"flag" === $"f")
      .groupBy($"flag").agg(sum($"w").as("sw"))
    assert(scanPaths(j2).exists(_.contains("fact.parquet")),
      s"dim-side aggregate was re-planned: ${scanPaths(j2)}")
    // FULL OUTER surfaces unmatched dim rows once each — COUNT(*)
    // would undercount from the rollup
    val j3 = base.join(dimT2, $"flag" === $"f", "full")
      .groupBy($"f").agg(count(lit(1)).as("n"))
    assert(scanPaths(j3).exists(_.contains("fact.parquet")),
      s"full outer was re-planned: ${scanPaths(j3)}")
    assert(j1.collect().length >= 0 && j2.collect().length == 2 &&
      j3.collect().length == 2)
  }

  test("opt-in approx COUNT(DISTINCT sketch-key): serves the HLL " +
      "estimate from the rollup only under graft.mv.approxDistinct") {
    val dir3 = java.nio.file.Files
      .createTempDirectory("graft_mv_ad").toString + "/fact.parquet"
    val sum3 = java.nio.file.Files
      .createTempDirectory("graft_mv_ads").toString + "/rollup"
    (1 to 2000).map(i => (if (i % 2 == 0) "X" else "Y", i.toLong, 1.0))
      .toDF("g", "k", "m")
      .write.mode("overwrite").parquet(dir3)
    SummaryRewrite.register(spark, dir3, sum3, Seq("g"), Seq("m"),
      sketches = Seq(SummaryRewrite.SketchSpec("k", 8)))
    def q = spark.read.parquet(dir3).groupBy($"g")
      .agg(countDistinct($"k").as("d")).orderBy($"g")
    // flag off (default): exact path on the base
    assert(scanPaths(q).exists(_.contains("fact.parquet")),
      s"approx distinct served without opt-in: ${scanPaths(q)}")
    val exact = q.collect().map(_.getLong(1))
    // flag on: serves the register estimate from the rollup
    spark.conf.set("graft.mv.approxDistinct", "true")
    try {
      assert(scanPaths(q).exists(_.contains("rollup")),
        s"opt-in approx distinct did not fire: ${scanPaths(q)}")
      val est = q.collect().map(_.getLong(1))
      // p=8 registers: a few % relative error at n=1000 per group
      exact.zip(est).foreach { case (ex, es) =>
        assert(math.abs(es - ex).toDouble / ex < 0.15, s"$es vs $ex")
      }
      // the estimate equals sketching the raw table directly
      // (register max is order-independent)
      val raw = spark.read.parquet(dir3).groupBy($"g")
        .agg(expr("hll_estimate(hll_sketch(k, 8))").as("d"))
        .orderBy($"g").collect().map(_.getLong(1))
      assert(est.toSeq == raw.toSeq)
    } finally spark.conf.set("graft.mv.approxDistinct", "false")
    SummaryRewrite.unregister(spark, dir3)
  }

  test("a registered EXPRESSION measure (qty * price) serves " +
      "SUM/AVG/MIN/MAX/COUNT from its own partials") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(sum($"qty" * $"price").as("rev"),
          avg($"qty" * $"price").as("avg_rev"),
          min($"qty" * $"price").as("mn_rev"),
          max($"qty" * $"price").as("mx_rev"),
          count($"qty" * $"price").as("n_rev"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want) // integer-valued doubles: exact in any order
  }

  test("a commutative respelling (price * qty) still serves; different " +
      "math stays on the base") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag").agg(sum($"price" * $"qty").as("rev"))
        .orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
    // qty + price and qty * price * 2 are NOT the registered
    // expression — they must run on the fact table (and still be
    // right, trivially, because nothing rewrote)
    for (e <- Seq($"qty" + $"price", $"qty" * $"price" * 2)) {
      val q = base.groupBy($"flag").agg(sum(e).as("x")).orderBy($"flag")
      val p2 = scanPaths(q)
      assert(p2.exists(_.contains("fact.parquet")), s"scanned $p2")
      assert(!p2.exists(_.contains("rollup")), s"scanned $p2")
    }
  }

  test("an expression measure with a foldable literal (decimal cast) " +
      "serves: registered spelling matches the optimizer-folded query") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(sum(expr("CAST(qty AS DECIMAL(10,1)) * 2")).as("d2"),
          max(expr("CAST(qty AS DECIMAL(10,1)) * 2")).as("mx"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(!paths.exists(_.contains("fact.parquet")), s"scanned $paths")
    assert(got == want) // decimal arithmetic: exact
  }

  test("variance family over an expression measure serves from its " +
      "sum-of-squares partial, ~1e-9 agreement") {
    val before = SummaryRewriteRule.fireCount.get()
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(var_pop($"qty" * $"price").as("vp"),
          stddev_samp($"qty" * $"price").as("ss"))
        .orderBy($"flag")
    }
    assert(SummaryRewriteRule.fireCount.get() > before)
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    got.zip(want).foreach { case (g, w) =>
      assert(g.head == w.head)
      g.tail.zip(w.tail).foreach {
        case (null, null) =>
        case (a: Double, b: Double) =>
          assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
            s"$a vs $b")
        case (a, b) => fail(s"$a vs $b")
      }
    }
  }

  test("expression measure under a dim FILTER clause and a dim group " +
      "serves exactly") {
    val (paths, got, want) = withAndWithout {
      base.groupBy($"flag")
        .agg(expr("sum(qty * price) FILTER (WHERE day >= date'2024-01-10')")
          .as("rev_late"))
        .orderBy($"flag")
    }
    assert(paths.exists(_.contains("rollup")), s"scanned $paths")
    assert(got == want)
  }

  test("refresh after base append picks up new rows") {
    val extra = Seq(("A",
      java.sql.Date.valueOf("2024-01-02"), 999L, 100.0, 1.0, 0.5,
      java.lang.Double.valueOf(3.0)))
      .toDF("flag", "day", "k", "qty", "price", "tiny", "sparse")
      .select($"flag", $"day", $"k", $"qty", $"price", $"tiny", $"sparse")
    extra.write.mode("append").parquet(baseDir)
    reRegister(refresh = true)
    val q = base.agg(count(lit(1)).as("n"))
    assert(scanPaths(q).exists(_.contains("rollup")))
    assert(q.collect().head.getLong(0) == 401L)
  }

  test("percentile_approx serves from the sample sketch ONLY under " +
      "the graft.mv.approxQuantile opt-in, scalar and array forms") {
    def q() = base.groupBy($"flag")
      .agg(expr("percentile_approx(price, 0.5)").as("p50"),
        expr("percentile_approx(price, array(0.25, 0.9))").as("ps"))
      .orderBy($"flag")
    assert(!scanPaths(q()).exists(_.contains("rollup")),
      "an estimate must never silently replace percentile_approx")
    spark.conf.set("graft.mv.approxQuantile", "true")
    try {
      val served = q()
      assert(scanPaths(served).exists(_.contains("rollup")))
      val got = served.collect().map(r => (r.getString(0),
        r.getDouble(1), r.getSeq[Double](2))).toSeq
      // unsaturated: the served value is the exact lower order
      // statistic of the data
      def stat(vs: Seq[Double], p: Double): Double = {
        val sorted = vs.sorted
        sorted(math.floor(p * (sorted.length - 1)).toInt)
      }
      val byFlag = base.select($"flag", $"price").collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getDouble(1)).toSeq).toMap
      val want = byFlag.keys.toSeq.sorted.map { f =>
        (f, stat(byFlag(f), 0.5),
          Seq(stat(byFlag(f), 0.25), stat(byFlag(f), 0.9)))
      }
      assert(got == want)
      // percentile (the EXACT form) must never be substituted
      val exact = base.groupBy($"flag")
        .agg(expr("percentile(price, 0.5)").as("p"))
      assert(!scanPaths(exact).exists(_.contains("rollup")))
    } finally spark.conf.set("graft.mv.approxQuantile", "false")
  }

  test("percentile_approx over the registered HDR grid spelling " +
      "serves from the rollup under the opt-in; a different grid " +
      "stays on base") {
    def q(grid: String) = base.groupBy($"flag")
      .agg(expr(s"percentile_approx(CAST($grid AS BIGINT), 0.5)")
        .as("p50"))
      .orderBy($"flag")
    // never without the opt-in
    assert(!scanPaths(q("qty")).exists(_.contains("rollup")))
    spark.conf.set("graft.mv.approxQuantile", "true")
    try {
      val served = q("qty")
      assert(scanPaths(served).exists(_.contains("rollup")),
        "registered HDR grid spelling must serve from the rollup")
      // served value = HDR bucket lower bound: within 2^-5 relative
      // of the exact ceil-rank statistic, never above it
      val got = served.collect().map(r =>
        (r.getString(0), r.getLong(1)))
      val byFlag = base.select($"flag", $"qty").collect()
        .groupBy(_.getString(0)).view
        .mapValues(_.map(_.getDouble(1).toLong).toSeq).toMap
      got.foreach { case (f, est) =>
        val vs = byFlag(f).sorted
        val ex = vs((0.5 * vs.length).ceil.toInt - 1)
        assert(est <= ex && ex - est <= math.max(1L, ex >> 5),
          s"flag=$f est=$est exact=$ex")
      }
      // a semantically different grid must stay on base
      assert(!scanPaths(q("qty * 10")).exists(_.contains("rollup")))
    } finally spark.conf.set("graft.mv.approxQuantile", "false")
  }

  test("the headline TPC-H Q1 face (q_pricing_summary) itself serves " +
      "from the registered lineitem rollup, value-exact") {
    val dir = sf0001
    // any mv face installs the lineitem registration (idempotent);
    // the Q1 face's own revenue spelling is a registered ExprMeasure
    graft.SparkEntry.queries("q_mv_derived_measure")(spark, dir)
      .collect()
    val q = graft.SparkEntry.queries("q_pricing_summary")(spark, dir)
    assert(scanPaths(q).exists(_.contains("graft_mv_")),
      s"Q1 must re-plan onto the rollup, scanned: ${scanPaths(q)}")
    val got = q.collect().map(_.toSeq).toSeq
    SummaryRewrite.clear()
    val want = graft.SparkEntry.queries("q_pricing_summary")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "rollup-served Q1 must be value-exact")
    reRegister() // restore this spec's registration
  }
}
