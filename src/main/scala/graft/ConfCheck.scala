package graft

import org.apache.spark.sql.SparkSession

/** Dev check (r21): run every benchBuild, then assert the session's
  * shuffle-partition conf survived — a scoped-conf leak would silently
  * degrade every later query. */
object ConfCheck {
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
    SparkEntry.benchBuilds.toSeq.sortBy(_._1).foreach { case (n, fn) =>
      try fn(spark, sfDir) catch { case e: Throwable =>
        println(s"CONFCHECK build $n threw: ${e.getMessage}") }
      val sp = spark.conf.get("spark.sql.shuffle.partitions")
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      val wsc = spark.conf.get("spark.sql.codegen.wholeStage")
      println(s"CONFCHECK after $n: partitions=$sp aqe=$aqe codegen=$wsc")
    }
    CacheScope.releaseAll(spark)
    spark.stop()
  }
}
