package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph authority propagation — quantized PageRank in pure
  * BIGINT arithmetic, the host/document-quality prior of web-corpus
  * curation (reference analog: none — [absent]-class extension; the
  * graph-iteration shape itself is the point).
  *
  * Quantization: ranks live on a fixed-point grid of `q` (default
  * 2^20) units per unit mass. Damping 0.85 is the RATIONAL 17/20, so
  * one propagation step is `⌊17·r_u / (20·outdeg_u)⌋` — integer
  * multiply, integer floor-divide, integer sum. Nothing is floating
  * point, sums are order-free, and a k-iteration run is bit-identical
  * on every engine — which is what makes a distributed iterative
  * operator ORACLE-CHECKABLE at all (float PageRank diverges across
  * engines by summation order alone). The quantization error per
  * vertex per step is < 1 grid unit ≈ 2^-20 of a unit mass.
  *
  * Dangling vertices (no outlinks) receive their teleport share and
  * contribute nothing — dropped dangling mass, the standard
  * simplification; total mass therefore decays slightly per step,
  * which is fine for RANKING (the use here) and documented for
  * anyone wanting a probability vector.
  *
  * Scale: the edge list joins the rank vector on `src` and aggregates
  * contributions on `dst` — one join + one shuffle per iteration,
  * both keyed by vertex id: the canonical distributed PageRank.
  * The edge⋈outdeg join is paid ONCE before the loop; each
  * iteration's rank vector is localCheckpoint-materialized so plan
  * depth stays constant in the iteration count (no k-deep lineage,
  * same discipline as the IVF append path). Skewed in-degree (hub
  * pages) lands in the dst aggregation, where partial aggregation
  * absorbs the hot key map-side — no windows, no driver collect.
  */
object LinkGraph {

  /** (id, score) after `iters` propagation steps over `edges`
    * (src, dst; assumed deduplicated — duplicate edges would double
    * outdeg AND double contributions, a different graph). `vertices`
    * is one `id` column and defines the teleport set; dst-only
    * vertices must appear in it to receive rank. */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
      q: Long = 1L << 20): DataFrame = {
    require(q >= 20, "q must carry the 17/20 damping grid")
    val teleport = 3L * q / 20   // ⌊0.15·q⌋ on the damping grid
    propagate(vertices.select(col("id"), lit(teleport).as("__tele"),
      lit(q).as("score")), edges, iters)
  }

  /** TrustRank: identical propagation, but teleport mass lands ONLY
    * on `seeds` (one `id` column ⊆ vertices) — the seed-restricted
    * variant that turns authority into TRUST: pages reachable from
    * vetted seeds score high, link farms unreachable from them decay
    * toward zero however densely they interlink. The standard
    * host/document quality prior for web-corpus curation. Same
    * BIGINT grid, same bit-reproducibility, same per-iteration
    * shapes; the seed flag is one broadcast-scale semi-join at
    * setup. */
  def trustRank(vertices: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int, q: Long = 1L << 20): DataFrame = {
    require(q >= 20, "q must carry the 17/20 damping grid")
    val teleport = 3L * q / 20
    // distinct: a duplicated seed id would duplicate the vertex row
    // through the join and double-count its teleport AND outflow
    val flagged = vertices
      .join(seeds.select(col("id")).distinct()
          .withColumn("__seed", lit(1)),
        Seq("id"), "left_outer")
      .select(col("id"),
        when(col("__seed").isNotNull, teleport).otherwise(0L)
          .as("__tele"),
        when(col("__seed").isNotNull, q).otherwise(0L).as("score"))
    propagate(flagged, edges, iters)
  }

  /** Shared loop: `base` carries (id, __tele, score₀). */
  private def propagate(base: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be ≥ 1")
    // out-degree folded into the edge list once, outside the loop
    val e2 = graft.CacheScope.trackLocalCheckpoint(edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("__od")), "src")
      .select(col("src"), col("dst"), col("__od")))
    val tele = graft.CacheScope.trackLocalCheckpoint(
      base.select(col("id"), col("__tele")))
    var ranks = graft.CacheScope.trackLocalCheckpoint(
      base.select(col("id"), col("score")))
    for (_ <- 1 to iters) {
      val contrib = e2.join(ranks, e2("src") === ranks("id"))
        .select(col("dst"),
          expr("(17 * score) DIV (20 * __od)").as("__c"))
        .groupBy("dst").agg(sum(col("__c")).as("__in"))
      val next = graft.CacheScope.trackLocalCheckpoint(tele
        .join(contrib, tele("id") === contrib("dst"), "left_outer")
        .select(tele("id"),
          (col("__tele") + coalesce(col("__in"), lit(0L))).as("score")))
      // generation i−1 is dead once generation i is materialized (the
      // returned vector is the LAST checkpoint; each checkpoint's plan
      // is lineage-free) — free its blocks now instead of waiting for
      // GC + ContextCleaner (r21 verdict: orphaned checkpoint blocks)
      graft.CacheScope.release(ranks)
      ranks = next
    }
    // the loop state is fully materialized: e2/tele are not in the
    // returned vector's (truncated) lineage, so their blocks free now;
    // the final vector itself is consumed lazily by callers and stays
    // registered for session-level release
    graft.CacheScope.release(e2)
    graft.CacheScope.release(tele)
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999) in the same pure-BIGINT
    * discipline as [[pageRank]]: per iteration, authority = in-sum of
    * hub scores and hub = out-sum of authority scores, each
    * L∞-NORMALIZED back onto the `q` grid (`⌊raw·q / max(raw)⌋`).
    * Classic HITS normalizes by the L2 norm — an irrational scalar
    * that would end bit-reproducibility; power iteration converges to
    * the same principal direction under ANY norm, and the max is an
    * exact integer, so a k-iteration run is bit-identical on every
    * engine and the entry is hash-green like the PageRank one.
    * Complements PageRank's single score with the two-sided signal
    * (directory pages vs cited pages) web curation actually uses.
    *
    * Overflow contract: raw sums reach n·q and the normalization
    * multiplies by q before dividing, so pick q with n·q² < 2^63
    * (default 2^20 covers n up to ~8·10⁵ vertices; at web scale use
    * a smaller grid — ranking resolution, not mass, is what q buys).
    *
    * Scale: per iteration two edge⋈score joins + two dst/src-keyed
    * two-phase aggregations (hub skew absorbed map-side) and two
    * METADATA scalar max-aggregates; score vectors localCheckpoint so
    * plan depth stays constant. */
  def hits(vertices: DataFrame, edges: DataFrame, iters: Int,
      q: Long = 1L << 20): DataFrame = {
    require(iters >= 1, "iters must be ≥ 1")
    val e = graft.CacheScope.trackLocalCheckpoint(edges.select("src", "dst"))
    // v feeds the normalization joins AND the returned frame — its
    // blocks live until the caller consumes the result (session-level
    // release); e is freed at function end (the raw sums are
    // checkpointed, so nothing downstream re-reads it)
    val v = graft.CacheScope.trackLocalCheckpoint(vertices.select("id"))
    var hubs = v.select(col("id"), lit(q).as("h"))
    // auth₀ is overwritten in iteration 1 before any use (iters ≥ 1);
    // materializing it was a dead checkpoint job
    var auth = v.select(col("id"), lit(q).as("a"))
    // superseded raw-sum generations: araw_i / hraw_i are dead once
    // iteration i+1 has materialized its own sums (the only readers —
    // auth_i / hubs_i — were last used to build them); the FINAL pair
    // stays referenced by the returned frame, so it stays registered
    // for session-level release instead
    var prevAraw: DataFrame = null
    var prevHraw: DataFrame = null
    def normMax(df: DataFrame, c: String): Long = {
      val m = df.agg(max(col(c))).head()
      math.max(1L, if (m.isNullAt(0)) 0L else m.getLong(0))
    }
    for (_ <- 1 to iters) {
      // checkpoint the RAW in/out sums, not the normalized vectors:
      // the max-aggregate and the normalization join then both read
      // the materialized sums, where checkpointing the normalized
      // vector re-ran the edge⋈score join a second time per side per
      // iteration (r21: graph_hits spent ~2× its propagation work on
      // those recomputes). The normalized vectors are one shallow
      // metadata join over a checkpoint — no lineage growth, so they
      // need no checkpoint of their own. Arithmetic unchanged.
      val araw = graft.CacheScope.trackLocalCheckpoint(
        e.join(hubs, e("src") === hubs("id"))
          .groupBy(col("dst").as("id")).agg(sum(col("h")).as("ar")))
      // hubs_{i-1} (→ hraw_{i-1}) was last read building araw above
      if (prevHraw != null) graft.CacheScope.release(prevHraw)
      val amax = normMax(araw, "ar")
      auth = v.join(araw, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(expr(s"(ar * ${q}L) div ${amax}L"), lit(0L)).as("a"))
      val hraw = graft.CacheScope.trackLocalCheckpoint(
        e.join(auth, e("dst") === auth("id"))
          .groupBy(col("src").as("id")).agg(sum(col("a")).as("hr")))
      // auth_{i-1} (→ araw_{i-1}) is unreferenced since auth was rebound
      if (prevAraw != null) graft.CacheScope.release(prevAraw)
      val hmax = normMax(hraw, "hr")
      hubs = v.join(hraw, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(expr(s"(hr * ${q}L) div ${hmax}L"), lit(0L)).as("h"))
      prevAraw = araw
      prevHraw = hraw
    }
    graft.CacheScope.release(e)
    auth.join(hubs, Seq("id"))
      .select(col("id"), col("a").as("authority"), col("h").as("hub"))
  }

  /** Degree census of an edge list: (id, out_deg, in_deg) for every
    * vertex — the audit surface next to [[pageRank]] (hub/authority
    * shape, dangling count). Two aggregations + one full-outer on id. */
  def degrees(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val outd = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("out_deg"))
    val ind = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("in_deg"))
    vertices.join(outd, Seq("id"), "left_outer")
      .join(ind, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }
}
