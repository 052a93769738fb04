package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Shared session for all suites — one JVM-wide SparkSession. Its 4
  * cores are fixed so test partitioning does not follow the host's
  * `$SPARK_GRAFT_CPUS`. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf0001: String = SparkEntry.TinySfDir
  val sf001: String =
    Paths.get(sf0001).resolveSibling("sf0.01").toString

  /** One scratch root per test JVM, deleted when the JVM exits — after
    * Spark's own shutdown hook has stopped the session, so no job is
    * still writing below it. */
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => graft.sources.TableSwap.deleteRecursively(r),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)
    r
  }

  /** A fresh, empty directory named `prefix…` for one test. Every test
    * scratch directory comes from here (FixtureSpec checks it), so a
    * test run leaves none behind. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)
}
