package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    GraftSession.warm(spark, sfDir)
    // One-time shared builds (seeded streaming state, shingle indexes,
    // gated corpora, written tables) run FIRST, timed once each as
    // their own `*_build` entries: a single-shot run then charges
    // build cost to an explicit line instead of booking 5–20 s of
    // setup against whichever consumer runs first, and every query
    // number — single-shot or median — reflects steady state.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to the named
    // queries/builds — the per-entry iteration loop (unset = the
    // driver's full protocol, unchanged).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail fast on names matching neither a query nor a build — a typo
    // would otherwise silently produce an empty (or partial) run; and
    // flag when a restriction drops builds, because a consumer query
    // then pays its memo build in-line and the number is not comparable
    // to full-protocol runs
    only.foreach { names =>
      val known = SparkEntry.queries.keySet ++ SparkEntry.benchBuilds.keySet
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names match no query/build: " +
          unknown.toSeq.sorted.mkString(", "))
      val droppedBuilds = SparkEntry.benchBuilds.keySet.diff(names)
      if (names.exists(SparkEntry.queries.contains) && droppedBuilds.nonEmpty)
        System.err.println(
          s"Bench: restricted run excludes ${droppedBuilds.size} build " +
            "entries — memoized builds are charged to their first " +
            "consumer query; numbers are not comparable to full runs")
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val builds: Seq[(String, Double)] =
      SparkEntry.benchBuilds.toSeq.filter(b => keep(b._1))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir); true }
                 catch { case _: Throwable => false }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // Alphabetical order: stable across rounds so per-query numbers
    // stay comparable between rounds.
    def onePass(): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.filter(q => keep(q._1))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        // toRdd.count() materializes every output column of the plan —
        // a plain .count() would let Catalyst prune the computed columns
        // and time only a row count.
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case _: Throwable => false }
        // a failed query is recorded as -1, never as a (fast) timing
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
      }
    // BASELINE.md records 2× same-code box swings: identical code has
    // measured 53→118s within an hour as box contention rose. With
    // SPARK_GRAFT_BENCH_RUNS=N (default 1 — the driver's single-shot
    // protocol is unchanged) each query is timed N times and the MEDIAN
    // reported, so round-over-round per-query comparisons measure code,
    // not scheduling noise. Memoized shared builds are paid in pass 1
    // and reused after, so with N>1 the median reflects steady state —
    // the right basis for comparing code changes; the one-time build
    // cost still shows in pass 1 (and in the driver's single-shot run).
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt)
    val passes = (1 to runs).map(_ => onePass())
    // builds lead the report (they ran first and are timed once — a
    // one-time cost has no meaningful median)
    val results: Seq[(String, Double)] = builds ++
      passes.head.map(_._1).zipWithIndex
      .map { case (name, i) =>
        val ts = passes.map(_.apply(i)._2)
        val v =
          if (ts.exists(_ < 0)) -1.0   // any failed pass fails the query
          else {
            val s = ts.sorted
            (s((runs - 1) / 2) + s(runs / 2)) / 2   // median
          }
        name -> v
      }
    val runsMeta = if (runs > 1) s""","runs":$runs,"agg":"median"""" else ""
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def toJson(rs: Seq[(String, Double)], extra: String): String = {
      val qs = rs.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = fmt(results.map(_._2).filter(_ >= 0).sum)
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$extra$runsMeta,"sf":"$sfDir"}"""
    }
    // lifecycle hygiene: no graft-pinned blocks outlive the run. Freed
    // BEFORE the JSON lines: unpersisting a checkpoint logs a WARN,
    // which must not land after the summary in a captured log tail.
    CacheScope.releaseAll(spark)
    // Full per-query detail: persisted to a file (sbt log noise cannot
    // truncate a file) and printed for humans reading the whole log.
    val full = toJson(results, "")
    println(full)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      full.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // LAST stdout line: a short summary. Harness log capture keeps a
    // bounded tail of stdout; the full per-query line is ~2.3 KB and
    // gets its head cut off, so this guarantees one complete, parseable
    // {"metric":...} line inside any tail window. FAILED queries (-1)
    // lead the list — a summary that only showed the top-20 slowest
    // successes would render a failing run green.
    val failedFirst = results.sortBy { case (_, t) =>
      (if (t < 0) 0 else 1, -t)
    }
    val esc = out.replace("\\", "\\\\").replace("\"", "\\\"")
    println(toJson(failedFirst.take(20),
      s""","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"detail":"$esc""""))
    spark.stop()
    // a run with any -1 sentinel must not exit 0: scripts gating on rc
    // would otherwise treat a regressed run as passing
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
