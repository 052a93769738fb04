package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query profiler: time one registry entry N times and
  * dump its formatted physical plan — the fast feedback loop for plan
  * iteration that Bench (all 176 entries) is too slow for.
  *
  * Usage: runMain graft.TimeQuery <sfDir> <queryName> [runs] [--plan]
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = args.lift(2).flatMap(_.toIntOption).getOrElse(3)
    val showPlan = args.contains("--plan")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries(name)
    if (showPlan) println(fn(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    val ts = (1 to runs).map { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"TIMEQ $name run$i%d: $t%.3f s ($n rows)")
      t
    }
    println(f"TIMEQ $name median: ${ts.sorted.apply((runs - 1) / 2)}%.3f s")
    CacheScope.releaseAll(spark)
    spark.stop()
  }
}
