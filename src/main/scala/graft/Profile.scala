package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (r21 optimization round): split each registry entry's
  * single-shot wall time into DataFrame construction (query-function
  * call), Catalyst analysis+optimization+physical planning
  * (`executedPlan` force), and execution (`toRdd.count()`), inside one
  * warm session — the same methodology as Bench, but phase-attributed.
  * Output: one CSV line per query to stdout and to
  * SPARK_GRAFT_PROFILE_OUT (default /tmp/graft_profile.csv).
  *
  * Usage: runMain graft.Profile [queryName ...]  (default: all)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).queryExecution.toRdd.count()
    catch { case _: Throwable => () }
    // run builds first, untimed, so query numbers are steady-state
    SparkEntry.benchBuilds.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try fn(spark, sfDir) catch { case _: Throwable => () }
    }
    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder("name,build_s,plan_s,exec_s,total_s\n")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val r = try {
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        Some(((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          (t3 - t0) / 1e9))
      } catch { case e: Throwable =>
        System.err.println(s"FAILED $n: ${e.getMessage}")
        None
      }
      r.foreach { case (b, p, e, t) =>
        val line = f"$n,$b%.3f,$p%.3f,$e%.3f,$t%.3f"
        println("PROF " + line)
        sb.append(line).append('\n')
      }
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT",
      "/tmp/graft_profile.csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    CacheScope.releaseAll(spark)
    spark.stop()
  }
}
