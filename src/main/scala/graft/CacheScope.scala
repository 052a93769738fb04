package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of session-scoped storage. Three kinds of entry live
  * in one table per session, under one lock:
  *   - memoized builds shared by several registry queries ([[memo]]);
  *     a memo holds no storage of its own — a build that caches its
  *     result does so through [[track]];
  *   - caches ([[track]] is the library's only `persist`, e.g. the
  *     df-capped shingle index in
  *     [[graft.dedup.Dedup.jaccardPairsFromShingles]]);
  *   - every local checkpoint ([[trackLocalCheckpoint]] is the
  *     library's only `localCheckpoint()` call).
  * [[release]] frees one cache or checkpoint early; [[releaseAll]] is
  * the session's release point: it frees everything and forgets the
  * memos, so a registry query run afterwards simply rebuilds.
  *
  * A released CACHE recomputes; a released CHECKPOINT does not (its
  * blocks are the only copy of its data, lineage truncated), so a
  * checkpoint is released only after every consumer has been
  * evaluated.
  *
  * References are strong. A Dataset strongly references its
  * SparkSession, so a weak map keyed on the session would never
  * collect (values reach their keys), and a weak handle would lose
  * its unpersist the moment the caller dropped it. Instead every call
  * forgets STOPPED sessions (a stopped context's blocks are already
  * freed by Spark), so a service that cycles sessions through
  * `session.stop()` does not accumulate.
  */
object CacheScope {
  /** Registered under the lock, built OUTSIDE it: a build thunk may
    * itself call [[memo]] (a memoized corpus loading a memoized
    * table), where building under the lock would serialize every
    * build. `lazy val` gives once-only construction per key. */
  private final class Memo(thunk: () => AnyRef) {
    lazy val value: AnyRef = thunk()
  }

  /** One session's storage: memos by key, and every cache or
    * checkpoint by identity with the call that frees its blocks. */
  private final class Scope {
    val memos = new java.util.HashMap[String, Memo]()
    val pinned = new java.util.IdentityHashMap[Dataset[_], () => Unit]()
  }

  private val scopes = new java.util.HashMap[SparkSession, Scope]()

  private def inScope[T](s: SparkSession)(f: Scope => T): T =
    scopes.synchronized {
      scopes.entrySet().removeIf(_.getKey.sparkContext.isStopped)
      f(scopes.computeIfAbsent(s, _ => new Scope))
    }

  private def pin[T](ds: Dataset[T])(free: => Unit): Dataset[T] = {
    inScope(ds.sparkSession)(_.pinned.put(ds, () => free))
    ds
  }

  /** The value `build` returns, built once per (session, dir, tag) —
    * for DataFrames shared by several registry queries in one run.
    * Registry queries are read-only over immutable testdata dirs, so
    * within one live session the memo never goes stale. */
  def memo[T <: AnyRef](s: SparkSession, dir: String, tag: String)(
      build: => T): T =
    inScope(s)(_.memos.computeIfAbsent(s"$tag|$dir",
      _ => new Memo(() => build))).value.asInstanceOf[T]

  /** Persist `df` (MEMORY_AND_DISK, `.cache()` semantics) and register
    * it. A plan that another handle already cached is not cached again:
    * both handles read the one cache entry, which stays until the last
    * of them is released. */
  def track[T](df: Dataset[T]): Dataset[T] = {
    if (df.storageLevel == StorageLevel.NONE) df.cache()
    pin(df)(if (!sharesEntry(df)) df.unpersist(false))
  }

  /** Whether a registered handle other than `ds`, in any session, reads
    * the cache entry `ds` reads. */
  private def sharesEntry(ds: Dataset[_]): Boolean = {
    val cm = ds.sparkSession.sharedState.cacheManager
    cm.lookupCachedData(castToImpl(ds)).exists { entry =>
      scopes.synchronized(scopes.values.asScala.exists(
        _.pinned.keySet.asScala.exists(h =>
          (h ne ds) && cm.lookupCachedData(castToImpl(h)).exists(_ eq entry))))
    }
  }

  /** Eager `localCheckpoint`, registered. The returned Dataset is the
    * handle [[release]] takes; a plan derived from it is not. */
  def trackLocalCheckpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cp = ds.localCheckpoint()
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    pin(cp)(rdd.unpersist(false))
  }

  /** Free a registered cache or checkpoint NOW and forget it — for
    * iteration loops whose superseded generations are provably dead
    * (e.g. rank vector i−1 once vector i is materialized). A cache
    * entry that another registered handle still reads stays cached. A
    * released checkpoint must not be read again: there is no recompute
    * path.
    * No-op on anything else, a plan derived from a handle included.
    * An emptied scope is dropped: every stream runs its micro-batches
    * on its own cloned session, so per-stream scopes would otherwise
    * pile up. */
  def release(ds: Dataset[_]): Unit = Option(inScope(ds.sparkSession) { sc =>
    val free = sc.pinned.remove(ds)
    if (sc.pinned.isEmpty && sc.memos.isEmpty) scopes.remove(ds.sparkSession)
    free
  }).foreach(_())

  /** Unpersist every cache and checkpoint of `s` (non-blocking) and
    * forget them and every memo. Results derived from a released cache
    * recompute; results derived from a released checkpoint must already
    * have been evaluated. */
  def releaseAll(s: SparkSession): Unit =
    Option(scopes.synchronized(scopes.remove(s)))
      .foreach(_.pinned.values.forEach(_()))
}
