package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity

/** Lifecycle checks for the session storage owner: registered
  * localCheckpoints free their storage blocks at releaseAll, release
  * frees one registered generation immediately and nothing else, two
  * handles over one cached plan keep it until both are released, one
  * releaseAll drains memos, caches and checkpoints alike, and the
  * iterative operators that release generations in-loop still compute
  * correct results (a wrongly-early release would fail them with
  * missing-checkpoint-block errors, not wrong numbers — localCheckpoint
  * has no recompute path).
  *
  * Assertions are keyed on the EXACT checkpoint RDD id (not global
  * block counts): suites share one test JVM, so context-wide storage
  * tallies are not stable. Operators run on a dedicated newSession() so
  * releaseAll here cannot drain another suite's session-scoped
  * entries. */
class CacheScopeSpec extends AnyFunSuite {
  import TestSpark._

  private def cpRddId(ds: Dataset[_]): Int =
    ds.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.getOrElse(fail("expected a localCheckpoint-backed plan"))

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def pinned(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def awaitUnpinned(id: Int): Boolean = {
    // unpersist is non-blocking; poll briefly
    val deadline = System.nanoTime() + 10e9.toLong
    while (pinned(id) && System.nanoTime() < deadline) Thread.sleep(50)
    !pinned(id)
  }

  test("trackLocalCheckpoint: blocks freed by releaseAll") {
    val s = spark.newSession()
    val cp = CacheScope.trackLocalCheckpoint(s.range(1000).toDF("id"))
    val id = cpRddId(cp)
    assert(cp.count() == 1000)
    assert(pinned(id), "checkpoint must pin storage while registered")
    CacheScope.releaseAll(s)
    assert(awaitUnpinned(id),
      "releaseAll must free registered checkpoint blocks")
  }

  test("release frees a registered generation immediately") {
    val s = spark.newSession()
    val gen1 = CacheScope.trackLocalCheckpoint(s.range(100).toDF("id"))
    val id = cpRddId(gen1)
    assert(gen1.count() == 100)
    assert(pinned(id))
    CacheScope.release(gen1)
    assert(awaitUnpinned(id), "release must free the generation's blocks")
    CacheScope.release(gen1)   // already forgotten: a no-op
  }

  test("release is a no-op on unregistered plans") {
    CacheScope.release(spark.range(10).toDF("id"))
  }

  test("two tracks of one plan share one cache entry until both are released") {
    val s = spark.newSession()
    def plan = s.range(0, 304, 1, 3).toDF("shared_id")
    val a = CacheScope.track(plan)
    val b = CacheScope.track(plan)
    assert(b.count() == 304)
    def entry(ds: Dataset[_]) = s.sharedState.cacheManager
      .lookupCachedData(org.apache.spark.sql.classic.ClassicConversions.castToImpl(ds))
    assert(entry(a).exists(e => entry(b).exists(_ eq e)),
      "two cache entries for one plan")
    CacheScope.release(a)
    assert(b.storageLevel != StorageLevel.NONE,
      "releasing one handle unpersisted the other's cache")
    CacheScope.release(b)
    assert(b.storageLevel == StorageLevel.NONE,
      "the last release must unpersist")
  }

  test("release on a plan derived from a registered checkpoint " +
      "leaves that checkpoint pinned") {
    val s = spark.newSession()
    val cp = CacheScope.trackLocalCheckpoint(s.range(200).toDF("id"))
    val id = cpRddId(cp)
    val derived = cp.filter(col("id") % 2 === 0)
    CacheScope.release(derived)
    assert(pinned(id), "a derived plan must not free its upstream")
    assert(derived.count() == 100, "the checkpoint must stay readable")
    CacheScope.releaseAll(s)
    assert(awaitUnpinned(id))
  }

  test("one releaseAll frees a memo, a tracked cache and a checkpoint; " +
      "the memo rebuilds afterwards") {
    val s = spark.newSession()
    var builds = 0
    def memoized: Dataset[_] =
      CacheScope.memo(s, "cache-scope-spec", "memo") {
        builds += 1
        CacheScope.track(s.range(0, 301, 1, 3).toDF("memo_id"))
      }
    val m = memoized
    assert(memoized eq m, "a memo builds once per session")
    assert(m.count() == 301)
    val cached = CacheScope.track(s.range(0, 302, 1, 3).toDF("cache_id"))
    assert(cached.count() == 302)
    val cp = CacheScope.trackLocalCheckpoint(s.range(303).toDF("cp_id"))
    val id = cpRddId(cp)
    assert(m.storageLevel != StorageLevel.NONE)
    assert(cached.storageLevel != StorageLevel.NONE)
    assert(pinned(id))
    CacheScope.releaseAll(s)
    assert(m.storageLevel == StorageLevel.NONE, "memo left cached")
    assert(cached.storageLevel == StorageLevel.NONE, "cache left cached")
    assert(awaitUnpinned(id), "checkpoint left pinned")
    assert(memoized.count() == 301)
    assert(builds == 2, "releaseAll must forget the memo")
    CacheScope.releaseAll(s)
  }

  test("after an append, only the appended IVF generation stays pinned") {
    val s = spark.newSession()
    val emb = Tables.embeddings(s, sf0001)
    val before = persistentIds
    val base = Similarity.buildIvfIndex(
      emb.filter(col("vec_id") % 7 =!= 3), numCells = 4, iters = 1)
    val appended = Similarity.appendToIvfIndex(
      base, emb.filter(col("vec_id") % 7 === 3))
    CacheScope.release(base.cells)   // the caller's half of the contract
    CacheScope.release(base.vecs)
    val kept = Set(cpRddId(appended.cells), cpRddId(appended.vecs))
    val deadline = System.nanoTime() + 10e9.toLong
    while ((persistentIds -- before) != kept &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert((persistentIds -- before) == kept)
    assert(appended.vecs.count() == emb.count())
    CacheScope.releaseAll(s)
    assert(kept.forall(awaitUnpinned))
  }

  test("iterative operators stay correct with in-loop releases") {
    // an early release would surface as a missing-checkpoint-block
    // failure (no recompute path) — correct results prove every freed
    // generation was genuinely dead
    val s = spark.newSession()
    import s.implicits._
    val v = Seq(0L, 1L, 2L, 3L).toDF("id")
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val hits = graft.graph.LinkGraph.hits(v, e, iters = 3)
      .as[(Long, Long, Long)].collect()
    assert(hits.length == 4)
    val pr = graft.graph.LinkGraph.pageRank(v, e, iters = 3).collect()
    assert(pr.length == 4)
    // distributed star-loop regime (driverThreshold = 0) — exercises
    // the generation-release path; result re-read AFTER the loop
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val cc = graft.dedup.Dedup
      .connectedComponents(pairs, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    CacheScope.releaseAll(s)
  }

  test("CacheScope is the only persist/localCheckpoint caller in src/main") {
    // one owner: a bare cache or checkpoint elsewhere would pin blocks
    // that no release point knows about
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"missing $root")
    val sources = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "CacheScope.scala")
      .map(p => p -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    for (call <- Seq("""\.localCheckpoint\s*\(""".r, """\.persist\s*\(""".r)) {
      val offenders = sources.collect {
        case (p, src) if call.findFirstIn(src).isDefined => p
      }
      assert(offenders.isEmpty, s"bare $call in $offenders")
    }
  }
}
