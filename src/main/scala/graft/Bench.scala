package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Times the whole registry: every `*_build` once, then every query,
  * and writes the result as JSON. The run protocol it uses (force,
  * timed, runBuilds, median, the JSON rendering) is the one Stress,
  * `graft.Dev` and `GraftSession.warm` call as well.
  */
object Bench {
  /** Materialize every output column of `df` — a plain `.count()`
    * would let Catalyst prune the computed columns and time only a row
    * count. */
  def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Seconds `body` took, or -1 with the failure on stderr: a failed
    * entry is recorded as -1, never as a (fast) timing. */
  def timed(name: String)(body: => Any): Double = {
    val t0 = System.nanoTime()
    try { body; (System.nanoTime() - t0) / 1e9 }
    catch { case e: Throwable =>
      System.err.println(s"$name: FAILED — ${e.getMessage}"); -1.0 }
  }

  /** Each named entry timed in turn: a failure is that entry's -1 and
    * the next entry still runs. */
  def timeEach[A](entries: Seq[(String, A)])(run: A => Any)
      : Seq[(String, Double)] =
    entries.map { case (name, a) => name -> timed(name)(run(a)) }

  /** Every registry build (that `keep` admits) timed once, in name
    * order. Builds run before any query is timed: their cost is booked
    * to an explicit `*_build` line instead of 5–20 s of setup against
    * whichever consumer runs first, and every query number reflects
    * steady state. */
  def runBuilds(spark: SparkSession, sfDir: String,
      keep: String => Boolean = _ => true): Seq[(String, Double)] =
    timeEach(SparkEntry.benchBuilds.toSeq.filter(b => keep(b._1))
      .sortBy(_._1))(_(spark, sfDir))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }

  /** A JSON number with 3 decimals. */
  def num(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON string: backslash, quote and ALL control chars (<0x20)
    * escaped — a tab or CR in a query's SQL text would otherwise make a
    * reader's json.load fail. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"name":seconds,...}` in the given order. */
  def obj(pairs: Seq[(String, Double)]): String =
    pairs.map { case (k, v) => str(k) + ":" + num(v) }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    GraftSession.warm(spark, sfDir)
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
    val builds = runBuilds(spark, sfDir, keep)
    // Alphabetical order: stable across rounds so per-query numbers
    // stay comparable between rounds.
    def onePass(): Seq[(String, Double)] =
      timeEach(SparkEntry.queries.toSeq.filter(q => keep(q._1))
        .sortBy(_._1))(fn => force(fn(spark, sfDir)))
    // BASELINE.md records 2× same-code box swings: identical code has
    // measured 53→118s within an hour as box contention rose. With
    // SPARK_GRAFT_BENCH_RUNS=N (default 1 — the driver's single-shot
    // protocol is unchanged) each query is timed N times and the MEDIAN
    // reported, so round-over-round per-query comparisons measure code,
    // not scheduling noise. Builds ran before pass 1 and are timed once
    // (a one-time cost has no meaningful median).
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt)
    val passes = (1 to runs).map(_ => onePass())
    val results: Seq[(String, Double)] = builds ++
      passes.head.map(_._1).zipWithIndex.map { case (name, i) =>
        val ts = passes.map(_.apply(i)._2)
        // any failed pass fails the query
        name -> (if (ts.exists(_ < 0)) -1.0 else median(ts))
      }
    val runsMeta = if (runs > 1) s""","runs":$runs,"agg":"median"""" else ""
    def toJson(rs: Seq[(String, Double)], extra: String): String = {
      val total = num(results.map(_._2).filter(_ >= 0).sum)
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(rs)}$extra$runsMeta,"sf":${str(sfDir)}}"""
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
    println(toJson(failedFirst.take(20),
      s""","n_queries":${results.size},"n_failed":${results.count(_._2 < 0)},"detail":${str(out)}"""))
    spark.stop()
    // a run with any -1 sentinel must not exit 0: scripts gating on rc
    // would otherwise treat a regressed run as passing
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
