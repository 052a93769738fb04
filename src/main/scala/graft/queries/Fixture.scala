package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** The one seam for registry fixture builds that stage files: seeded
  * streams, planted media and crawl files, written layouts. Every build
  * is fresh: a directory is reused within its session through
  * [[graft.CacheScope.memo]] and never across JVMs, so the state a
  * registry query reads was always built by the code that reads it.
  */
private[graft] object Fixture {

  /** `build(dir)` once per (session, `d`, `tag`). `dir` is
    * `java.io.tmpdir/graft_<tag>_<hex(d.hashCode)>`, cleared and
    * created before the build, so repeated runs leave one directory
    * per fixture. `dir` exists, so a writer in the default
    * error-if-exists mode must target a path below it. */
  def dir[A <: AnyRef](s: SparkSession, d: String, tag: String)(
      build: String => A): A =
    graft.CacheScope.memo(s, d, tag) {
      val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        s"graft_${tag}_" + java.lang.Integer.toHexString(d.hashCode))
      graft.sources.TableSwap.deleteRecursively(p)
      java.nio.file.Files.createDirectories(p)
      build(p.toString)
    }

  /** Wait up to 5 minutes for a fixture stream to finish. A query
    * still running is stopped BEFORE the failure is raised: a memo does
    * not cache a failed build, so a retry clears this directory and
    * must not find a zombie stream still writing into it. */
  def await(q: StreamingQuery, name: String): Unit = {
    val done = q.awaitTermination(300000)
    if (!done) q.stop()
    require(done, s"$name: stream did not finish within 5 minutes — " +
      "refusing to read partial output")
  }
}
