package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  import TestSpark._

  test("local sets the shared defaults") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    // a derived session (streams, per-build isolation) inherits them
    assert(spark.newSession().conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("local quiets only the checkpoint-release warning's logger") {
    import org.apache.logging.log4j.{Level, LogManager}
    // releaseAll's "was locally checkpointed" warning comes from here
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .getLevel === Level.ERROR)
    assert(LogManager.getRootLogger.getLevel === Level.WARN)
    assert(LogManager.getLogger("org.apache.spark.sql.execution.CacheManager")
      .isWarnEnabled)
  }

  test("GraftSession is the only session builder in src") {
    // one factory: a second builder would drift from its defaults
    val builder = """SparkSession\s*\.\s*builder""".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"missing $root")
      java.nio.file.Files.walk(root).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => builder.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
    }
    assert(offenders.isEmpty, s"session builder outside GraftSession in $offenders")
  }
}
