package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: Bench, Verify, Stress, the dev
  * tools and the test suites all get theirs here, so they agree on
  * defaults (a source test keeps it the only builder). */
object GraftSession {
  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * no UI and WARN logging. The default is `$SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // CacheScope.releaseAll unpersists every registered localCheckpoint and
    // Spark warns once per RDD that its truncated lineage cannot be
    // recomputed: expected on release, and 70+ lines per Bench or Verify
    // run. A Dataset checkpoints through a MapPartitionsRDD, so only that
    // logger is raised to ERROR; every other logger stays at WARN.
    Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    spark
  }

  /** Warm the JVM on the tiny SF so the first timed entry doesn't absorb
    * startup: codegen + parquet machinery (entry), the interpreted
    * higher-order-function paths of the shingle pipeline (jaccard/simhash
    * — measured ~3s of one-time JIT otherwise charged to the first dedup
    * query), and the array_dot codegen kernel. */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    val warmSf = SparkEntry.TinySfDir
    Bench.timed("warm-up")(Bench.force(SparkEntry.entry(spark)))
    // Skipped when measuring the warm dir itself: the dedup warm queries
    // populate memoized shared builds keyed on (session, dir), and
    // reusing them would zero out the cost the explicit `*_build`
    // entries are meant to measure.
    if (sfDir != warmSf) {
      Seq("dedup_ngram_jaccard", "dedup_simhash", "sim_cosine_topk").foreach { q =>
        SparkEntry.queries.get(q) match {
          case Some(fn) =>
            // a runtime failure (e.g. missing testdata) goes to stderr;
            // a renamed registry key must not silently un-warm the JIT
            Bench.timed(s"warm-up $q")(Bench.force(fn(spark, warmSf)))
          case None =>
            System.err.println(s"warm-up: registry query '$q' missing")
        }
      }
    }
  }
}
