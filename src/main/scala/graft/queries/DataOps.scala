package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Conformance queries for the training-data-pipeline operators
  * (dedup / similarity / text analysis / multimodal) over the
  * `documents` and `embeddings` tables, each calling the REAL module
  * code with a DuckDB oracle mirroring the arithmetic exactly
  * (rank-encoded dictionaries + sequential folds → bit-identical
  * results; see module Scaladoc for the production-path variants).
  */
object DataOps extends QueryModule {

  // Exact dedup needs actual duplicates: plant copies (doc_id+100000)
  // of every 10th document, then find groups by full-text identity.
  private def dedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    Dedup.exactGroups(docs.unionByName(planted), "doc_id", "text")
      // member_ids serialized to a CSV string: the driver's pandas compare
      // cannot hash array cells; semantics unchanged.
      .select(col("canonical_id"), col("n_copies"),
        array_join(col("member_ids").cast("array<string>"), ",").as("member_ids"))
      .orderBy("canonical_id")
  }

  // The shingle index and its rank dictionary feed three registry
  // entries (jaccard, minhash, simhash) that a Verify/Bench run calls
  // back-to-back — memoize and persist them per (session, dir) so the
  // explode+distinct and the dictionary's global sort run once.
  /** (id, shingle), persisted. */
  private def sharedShingles(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "dedup_shingles") {
      graft.CacheScope.track(
        Dedup.shingles(Tables.documents(s, d), "doc_id", "text"))
    }

  /** (id, sid) — dictionary-encoded, persisted. Separate memo entry:
    * the rank dictionary does driver-side bucket-offset work eagerly,
    * and only the minhash/simhash oracle paths need it — jaccard and
    * clustering must not pay for it. */
  private def sharedEncoded(s: SparkSession, d: String): DataFrame = {
    val sh = sharedShingles(s, d)
    graft.CacheScope.memo(s, d, "dedup_encoded") {
      graft.CacheScope.track(sh.join(Dedup.shingleDictionary(sh),
        Seq("shingle")).select("id", "sid"))
    }
  }

  /** Jaccard>0.3 pairs feed three registry entries (the pair list, the
    * clusters built on it, and the incremental-admission near check) —
    * one posting-list self-join, memoized. */
  private def sharedJaccardPairs(s: SparkSession, d: String): DataFrame = {
    val sh = sharedShingles(s, d)   // resolved before the thunk (no nesting)
    graft.CacheScope.memo(s, d, "jaccard_pairs") {
      graft.CacheScope.track(Dedup.jaccardPairsFromShingles(sh, 0.3))
    }
  }

  private def dedupJaccard(s: SparkSession, d: String): DataFrame =
    sharedJaccardPairs(s, d).orderBy("id1", "id2")

  /** The cluster labeling feeds two registry entries (the cluster list
    * and the keep-list decision built on it) — one CC pass, memoized. */
  private[queries] def sharedClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = sharedJaccardPairs(s, d)   // resolved before the thunk
    graft.CacheScope.memo(s, d, "dedup_clusters") {
      graft.CacheScope.track(
        Dedup.connectedComponents(pairs.select("id1", "id2")))
    }
  }

  private def dedupMinhashLsh(s: SparkSession, d: String): DataFrame = {
    val encoded = sharedEncoded(s, d)
    val sigs = Dedup.minhashSignaturesAgg(encoded, numHashes = 16)
    Dedup.lshCandidatesFromSigs(sigs, rowsPerBand = 2, numHashes = 16)
      .select(col("id1"), col("id2"))
      .orderBy("id1", "id2")
  }

  // SimHash features = 3-gram shingles (distinct per doc): token-level
  // features cannot discriminate on a corpus that shares one small
  // vocabulary; shingles separate near-dups from the background.
  private def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    val encoded = sharedEncoded(s, d)
    Dedup.simhashPairs(Dedup.simhash(encoded, bits = 32), maxDist = 6)
      .orderBy("id1", "id2")
  }

  // Near-dup clusters: connected components over the Jaccard pair list
  // — the step a dedup pipeline actually keys its "keep one canonical
  // doc per group" decision on. Oracle = DuckDB recursive reachability
  // (components are tiny, so path enumeration is bounded).
  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    sharedClusters(s, d).orderBy("id")

  // Keep-BEST canonical selection: real pipelines keep the highest-
  // quality member of each near-dup cluster, not the lowest id. One
  // window per cluster (argmax by text length, id tiebreak) over the
  // metadata-scale cluster membership — the corpus is only touched to
  // look up member quality.
  private def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
      length(col("text")).as("quality"))
    val members = broadcast(sharedClusters(s, d))
      .join(docs, col("id") === col("doc_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(desc("quality"), asc("id"))
    members
      .withColumn("__rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(max(when(col("__rn") === 1, col("id"))).as("best_id"),
        max(when(col("__rn") === 1, col("quality"))).as("best_quality"),
        count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
  }

  // Incremental dedup — the daily-ingest shape: a NEW batch (doc_id %
  // 4 == 0 plays the increment) is admitted against the EXISTING corpus
  // without re-clustering anything. A new doc is rejected if its text
  // exact-matches an existing doc (semi-join on text; at scale, on
  // xxhash64(text) buckets) or if it near-matches one (the shared pair
  // list filtered to cross (new, old) pairs — candidate generation
  // already touches only shingle-colliding docs, so the increment
  // never pays a corpus-wide scan beyond its own shingles).
  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the synthetic corpus has no cross-slice exact copies, so plant
    // some: re-ingested existing docs under fresh increment ids (both
    // engines mirror the planting). Planted docs are not in the shared
    // shingle index, so they exercise the exact branch specifically —
    // the near branch is exercised by the organic doc_id%4 slice.
    Planting.requireHeadroom(docs, "doc_id", "dedup_incremental")
    val planted = docs.filter(col("doc_id") % 40 === 1)
      .select((lit(100000L) + col("doc_id") * 4).as("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") % 4 === 0)
      .select("doc_id", "text").unionByName(planted)
    val existing = docs.filter(col("doc_id") % 4 =!= 0)
    val exactIds = incoming.join(existing.select("text"), Seq("text"),
        "left_semi")
      .select(col("doc_id")).withColumn("exact_dup", lit(true))
    val pairs = sharedJaccardPairs(s, d)
    val nearIds = pairs
      .filter((col("id1") % 4 === 0) =!= (col("id2") % 4 === 0))
      .select(when(col("id1") % 4 === 0, col("id1")).otherwise(col("id2"))
        .as("doc_id"))
      .distinct().withColumn("near_dup", lit(true))
    incoming.select("doc_id")
      .join(exactIds, Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_dup"), lit(false)).as("exact_dup"),
        coalesce(col("near_dup"), lit(false)).as("near_dup"),
        (coalesce(col("exact_dup"), lit(false)) ||
          coalesce(col("near_dup"), lit(false))).unary_!.as("admitted"))
      .orderBy("doc_id")
  }

  /** Run the STREAMING admission end-to-end once per (session, dir):
    * seed state with the "existing" corpus (doc_id % 4 ≠ 0), then
    * deliver three checkpointed increments through
    * [[graft.streaming.StreamAdmission]]: (1) the organic increment
    * (doc_id % 4 == 0 — exercises the near-dup check against seeded
    * shingle state), (2) planted exact copies of existing docs (all
    * rejected) plus fresh unique one-token docs (all admitted), (3) a
    * RE-DELIVERY of increment 1 — the id skip must make it a no-op.
    * Returns the state path; the registry entry reads docs/. */
  private def streamAdmittedState(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "stream_admit") { base =>
      val (src, cp, state) = (s"$base/src", s"$base/cp", s"$base/state")
      // Fixture corpus: a QUARTER of the table (doc_id % 16 < 4 keeps every
      // admission branch alive — organic %4==0 residue {0}, copy
      // sources %40==1 via 1 mod 16, fresh sources %40==3 via 3 mod
      // 16). The build exercises seed + 3 checkpointed deliveries
      // either way; the full-corpus cost lives in dedup_incremental,
      // and the oracle applies the same restriction.
      val docs = Tables.documents(s, d).filter(col("doc_id") % 16 < 4)
      Planting.requireHeadroom(docs, "doc_id", "dedup_stream_admit")
      val existing = docs.filter(col("doc_id") % 4 =!= 0)
        .select("doc_id", "text")
      val incA = docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id", "text")
      val incB = docs.filter(col("doc_id") % 40 === 1)
        .select((lit(Planting.Offset) + col("doc_id") * 4).as("doc_id"),
          col("text"))
        .unionByName(docs.filter(col("doc_id") % 40 === 3)
          .select((col("doc_id") + 2 * Planting.Offset).as("doc_id"),
            concat(lit("zqx"), col("doc_id").cast("string")).as("text")))
      // The state tables are rewritten by seed + 3 deliveries, so each
      // step runs at the shuffle-partition count its own input derives
      // (ScopedConf.streamPartitions: the seed corpus, then the
      // delivered source).
      def deliver(inc: DataFrame): Unit = {
        inc.coalesce(1).write.mode("append").parquet(src)
        val stream = s.readStream.schema(incA.schema).parquet(src)
        ScopedConf.withStreamPartitions(s, s.read.parquet(src)) {
          Fixture.await(graft.streaming.StreamAdmission.start(stream,
            state, cp, "doc_id", "text", tau = 0.3, maxShingleDf = 1000L),
            "dedup_stream_admit")
        }
      }
      ScopedConf.withConf(s, "spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.adaptive.enabled" -> "false") {
        ScopedConf.withStreamPartitions(s, existing) {
          graft.streaming.StreamAdmission.seed(s, existing, state,
            "doc_id", "text")
        }
        deliver(incA)
        deliver(incB)
        // re-delivery: must converge with zero changes
        deliver(incA)
      }
      state
    }

  /** T2-composed-with-dedup in the registry denominator: the admitted
    * corpus after the full streaming run, hash-checked against a
    * DuckDB oracle that recomputes the sequential admission truth
    * (exact text vs existing; raw-size Jaccard > 0.3 over df≤1000
    * shingles for the organic increment; fresh docs admitted). */
  private def dedupStreamAdmit(s: SparkSession, d: String): DataFrame =
    s.read.parquet(streamAdmittedState(s, d) + "/docs")
      .select(col("id").as("doc_id"), length(col("text")).as("n_chars"),
        col("n_sh").cast("long").as("n_sh"))
      .orderBy("doc_id")

  // Benchmark decontamination (the GPT-3-style n-gram overlap check):
  // flag every training doc sharing ANY word 3-gram with the held-out
  // benchmark slice (doc_id % 97 == 0 plays the benchmark here;
  // production uses 13-grams — same operator, different n). The check
  // is an inverted-index LEFT SEMI join on the shingle — work scales
  // with postings of benchmark shingles, never doc × doc; at 100 TB
  // the benchmark shingle set is a broadcast.
  private def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val sh = sharedShingles(s, d)
    val benchShingles = sh.filter(col("id") % 97 === 0)
      .select("shingle").distinct()
    val flagged = sh.filter(col("id") % 97 =!= 0)
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    // flagged grows with the corpus (worst case: everything) — equi
    // join on doc_id, never a broadcast
    Tables.documents(s, d).filter(col("doc_id") % 97 =!= 0)
      .select("doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // The composed OUTPUT of the dedup stage: one keep/drop decision per
  // document — near-dup cluster members defer to the cluster minimum
  // (canonical), everything else keeps itself. The cluster table is
  // metadata-scale (members of near-dup pairs only), so the decision
  // join broadcasts against the full corpus — the shape that holds at
  // 100 TB.
  private def dedupKeepList(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val clusters = sharedClusters(s, d)
    docs.join(broadcast(clusters), docs("doc_id") === clusters("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
          .as("keep"))
      .orderBy("doc_id")
  }

  // Leakage-SAFE train/test split: the unit of assignment is the
  // near-dup CLUSTER, not the document — hashing the canonical id
  // sends every member of a cluster to the same side, so a test doc
  // can never have a near-duplicate in train (the contamination that
  // per-doc splits silently create; the eval-leakage failure mode
  // FineWeb/Dolma pipelines split-by-cluster to avoid). Composition of
  // two hash-proven pieces: dedup_keep_list's canonical labeling and
  // samp_train_test's md5 split rule, applied to the canonical key.
  // Scale: the cluster table is metadata-scale and broadcasts; the
  // split is a pure projection — the corpus never shuffles.
  private def sampSplitSafe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id")
    val clusters = sharedClusters(s, d)
    val canon = docs
      .join(broadcast(clusters), docs("doc_id") === clusters("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
    graft.sampling.Sampling.hashSplit(canon, "canonical_id", 0.8)
      .orderBy("doc_id")
  }

  /** The whole curation pipeline composed end-to-end over a planted
    * corpus (originals ∪ copies of every 10th doc): Gopher quality
    * gate → exact dedup (keep-first-by-id) → near-dup keep decision
    * (Jaccard clusters, canonical = min member) → train/test split.
    * One row per document with every stage's verdict — the "switch
    * your pipeline to this library" query. All four stages are
    * individually hash-proven; this entry proves their COMPOSITION
    * against one SQL transcript of the same rules.
    *
    * Scale notes: the exact stage's text-keyed arg-min/join would key
    * on xxhash64(text) in production (Dedup scaladoc); the cluster
    * table is metadata-scale and broadcasts; gate and split are pure
    * projections. Planted copies keep every branch live: a copy is
    * exact-dup AND near-loser; organic near-dups hit only the near
    * branch; short docs hit only the gate. */
  /** Near-dup cluster table of the PLANTED corpus, shared by both
    * curation pipelines. The planted shingle index is DERIVED from the
    * memoized organic one (a copy's shingles are the original's rows
    * under the shifted id — shingles() is per-doc deterministic, and
    * null text produces no shingle rows either way), so the corpus
    * explode is shared with the jaccard/minhash/simhash entries
    * instead of re-run; CC runs once per (session, dir). */
  private def curateClusters(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "curate_clusters") {
      val sh = sharedShingles(s, d)
      val plantedSh = sh.unionByName(sh.filter(col("id") % 10 === 0)
        .select((col("id") + Planting.Offset).as("id"), col("shingle")))
      graft.CacheScope.track(Dedup.connectedComponents(
        Dedup.jaccardPairsFromShingles(plantedSh, 0.3)
          .select("id1", "id2")))
    }

  /** The curation pipelines' planted corpus. text is coalesced to ''
    * at the corpus seam: a NULL text would otherwise vanish in the
    * text-keyed exact-dedup join (NULL never equi-joins) while the
    * oracle keeps the row — normalizing once makes every downstream
    * stage null-free and engine-identical. The planted union feeds two
    * full-corpus consumers per pipeline (gate, exact arg-min) —
    * memoized + persisted so they share one materialization; the
    * headroom guard runs once in the build. */
  private def curateU(s: SparkSession, d: String): DataFrame =
    graft.CacheScope.memo(s, d, "curate_u") {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      Planting.requireHeadroom(base, "doc_id", "pipeline_curate")
      graft.CacheScope.track(base.unionByName(
        base.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + Planting.Offset).as("doc_id"),
            col("text"))))
    }

  private def pipelineCurate(s: SparkSession, d: String): DataFrame = {
    val u = curateU(s, d)
    val clusters = curateClusters(s, d)
    val gated = graft.text.TextAnalysis.qualityGate(u)
      .select(col("doc_id"), col("text"), col("keep").as("keep_quality"))
    // arg-min by aggregation (no text-partitioned window); renamed
    // columns — firstByText derives from u, same-name join columns
    // would hit ambiguous-self-join resolution
    val firstByText = u.groupBy("text").agg(min("doc_id").as("__first_id"))
      .withColumnRenamed("text", "__t")
    val labeled = gated.join(firstByText, col("text") === col("__t"))
      .withColumn("is_exact_dup", col("doc_id") =!= col("__first_id"))
      .join(broadcast(clusters), col("doc_id") === col("id"), "left")
      .withColumn("is_near_loser",
        coalesce(col("cluster_id") =!= col("doc_id"), lit(false)))
      .withColumn("admitted",
        col("keep_quality") && !col("is_exact_dup") && !col("is_near_loser"))
    graft.sampling.Sampling.hashSplit(labeled, "doc_id", 0.8)
      .select("doc_id", "keep_quality", "is_exact_dup", "is_near_loser",
        "admitted", "split")
      .orderBy("doc_id")
  }

  /** pipeline_curate with the SEMANTIC stage added (the full modern
    * curation recipe: rule gate → exact dedup → lexical near-dup →
    * embedding near-dup → split). The semantic verdict comes from the
    * hash-proven exhaustive SemDeDup labeling over `embeddings`
    * (vec_id ≡ doc_id in the synthesized corpus); planted copies have
    * no embedding row, so they pass the semantic stage untouched (left
    * join, null → keep) — exactly what the oracle's LEFT JOIN does.
    * Every stage's rule is copied verbatim from its per-operator
    * oracle, so the composition is hash-proven end-to-end like v1. */
  private def pipelineCurateV2(s: SparkSession, d: String): DataFrame = {
    val u = curateU(s, d)
    val clusters = curateClusters(s, d)
    val sem = graft.sim.SemDedup
      .semanticDedupExhaustive(Tables.embeddings(s, d), 0.35)
      .select(col("vec_id"), (!col("keep")).as("__sem_loser"))
    val gated = graft.text.TextAnalysis.qualityGate(u)
      .select(col("doc_id"), col("text"), col("keep").as("keep_quality"))
    val firstByText = u.groupBy("text").agg(min("doc_id").as("__first_id"))
      .withColumnRenamed("text", "__t")
    val labeled = gated.join(firstByText, col("text") === col("__t"))
      .withColumn("is_exact_dup", col("doc_id") =!= col("__first_id"))
      .join(broadcast(clusters), col("doc_id") === col("id"), "left")
      .withColumn("is_near_loser",
        coalesce(col("cluster_id") =!= col("doc_id"), lit(false)))
      // the semantic-loser table is corpus-bounded metadata (one bit
      // per embedded doc) — broadcast, the corpus side never shuffles
      .join(broadcast(sem), col("doc_id") === col("vec_id"), "left")
      .withColumn("is_sem_loser",
        coalesce(col("__sem_loser"), lit(false)))
      .withColumn("admitted",
        col("keep_quality") && !col("is_exact_dup") &&
          !col("is_near_loser") && !col("is_sem_loser"))
    graft.sampling.Sampling.hashSplit(labeled, "doc_id", 0.8)
      .select("doc_id", "keep_quality", "is_exact_dup", "is_near_loser",
        "is_sem_loser", "admitted", "split")
      .orderBy("doc_id")
  }

  // Containment coverage needs a contained doc: plant the 15-word
  // PREFIX of every 20th document — its 3-gram shingles are a strict
  // subset of the original's, so containment(prefix→orig) = 1.0 while
  // jaccard stays low (the signal Jaccard misses by construction).
  // The planted side's shingles are computed fresh; the organic side
  // rides the shared memoized index.
  private def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    Planting.requireHeadroom(docs, "doc_id", "dedup_containment")
    val planted = docs.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + Planting.Offset).as("doc_id"),
        array_join(slice(split(lower(trim(col("text"))), " +"), 1, 15), " ")
          .as("text"))
    val sh = sharedShingles(s, d)
      .unionByName(Dedup.shingles(planted, "doc_id", "text"))
    Dedup.containmentPairsFromShingles(sh, 0.8)
      .orderBy("id_contained", "id_container")
  }

  // Decontamination with a Bloom prefilter on the corpus shingle
  // stream: at 100 TB the stream side dwarfs the bench set, and the
  // sketch (bits, not keys) drops ~every clean shingle BEFORE the
  // broadcast semi-join; the exact join then removes false positives,
  // so the result — and the oracle — are identical to
  // text_decontaminate. The composition is the point: the sketch
  // travels as bytes between pipeline stages.
  private def textDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val sh = sharedShingles(s, d)
    val benchShingles = sh.filter(col("id") % 97 === 0)
      .select("shingle").distinct()
    val sketch = graft.ops.BloomPrune.buildKeySketch(
      benchShingles, "shingle", expectedItems = 100000)
    val flagged = sh.filter(col("id") % 97 =!= 0)
      .filter(graft.ops.BloomPrune.mightContain(sketch, col("shingle")))
      .join(broadcast(benchShingles), Seq("shingle"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))
    Tables.documents(s, d).filter(col("doc_id") % 97 =!= 0)
      .select("doc_id")
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // Production-path conformance for the xxhash64 shingle-key dedup
  // (the no-global-sort path promised by Dedup.shingleHash): MinHash/LSH
  // and SimHash candidate sets, each measured as recall against the
  // EXACT Jaccard≥0.5 pairs over the same shared shingle index. The
  // hashing is engine-specific → rows-only driver check; the recall
  // floors are pinned in DedupSpec. Every stage here shuffles on a hash
  // key — zero global sorts, unlike the rank-dictionary oracle variants.
  private def dedupProdConformance(s: SparkSession, d: String): DataFrame = {
    // Deterministic BOUNDED sample: the exact-truth probe is quadratic in
    // sample size, so the sample must not grow with the corpus — every
    // other doc up to an absolute cap (at sf0.01 the cap is a no-op; at
    // 100 TB the probe still costs what it costs here). Truth is computed
    // on the SAME sample so recall stays well-defined.
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") % 2 === 0 && col("doc_id") < 2000)
    // tracked caches (were bare .cache()): each call pinned two block
    // sets for the rest of the session with no release handle
    val sh = graft.CacheScope.track(
      Dedup.shingles(docs, "doc_id", "text"))
    // truth must be EXACT: disable the stop-shingle cap here — the
    // capped variant is itself an approximation and would make the
    // recall floor self-referential.
    val truth = graft.CacheScope.track(
      Dedup.jaccardPairsFromShingles(sh, 0.5,
          maxShingleDf = Long.MaxValue)
        .select("id1", "id2"))
    // One-pass tally: full-outer join of candidates and truth, then a
    // single aggregate — each candidate set is evaluated exactly once.
    def stats(path: String, cand: DataFrame): DataFrame =
      cand.withColumn("is_cand", lit(1L))
        .join(truth.withColumn("is_true", lit(1L)),
          Seq("id1", "id2"), "full_outer")
        .agg(sum("is_cand").as("n_candidates"),
          sum("is_true").as("n_true"),
          sum(col("is_cand") * col("is_true")).as("n_hit"))
        .select(lit(path).as("path"), col("n_candidates"), col("n_true"),
          col("n_hit"),
          (col("n_hit").cast("double") / col("n_true")).as("recall"))
    val mh = stats("minhash_lsh", Dedup.minhashCandidatesProd(sh))
    val sim = stats("simhash",
      Dedup.simhashPairs(Dedup.simhashProd(sh), maxDist = 6)
        .select("id1", "id2"))
    mh.unionByName(sim).orderBy("path")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"          -> (dedupExact _),
    "dedup_ngram_jaccard"  -> (dedupJaccard _),
    "dedup_minhash_lsh"    -> (dedupMinhashLsh _),
    "dedup_simhash"        -> (dedupSimhash _),
    "dedup_clusters"       -> (dedupClusters _),
    "dedup_keep_list"      -> (dedupKeepList _),
    "dedup_keep_best"      -> (dedupKeepBest _),
    "text_decontaminate"   -> (textDecontaminate _),
    "dedup_incremental"    -> (dedupIncremental _),
    "dedup_stream_admit"   -> (dedupStreamAdmit _),
    "pipeline_curate"      -> (pipelineCurate _),
    "pipeline_curate_v2"   -> (pipelineCurateV2 _),
    "text_decontaminate_bloom" -> (textDecontaminateBloom _),
    "dedup_containment"    -> (dedupContainment _),
    "dedup_prod_paths"     -> (dedupProdConformance _),
    "samp_split_safe"      -> (sampSplitSafe _),
  )

  private def force(df: DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }

  /** The module's one-time shared builds, benched as explicit entries
    * (see [[QueryModule.benchBuilds]]): the seeded streaming-admission
    * state (3 checkpointed deliveries), the shingle-index family
    * (shingles → dictionary encoding → Jaccard pairs → CC clusters),
    * and the curation pipelines' planted corpus + cluster table. */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "dedup_stream_admit_build" ->
        ((s, d) => { streamAdmittedState(s, d); () }),
      "dedup_index_build" -> ((s, d) => {
        force(sharedShingles(s, d)); force(sharedEncoded(s, d))
        force(sharedJaccardPairs(s, d)); force(sharedClusters(s, d))
      }),
      "pipeline_curate_build" -> ((s, d) => {
        force(curateU(s, d)); force(curateClusters(s, d))
      })
    )

  // Shared oracle CTEs -----------------------------------------------

  // ts mirrors TextAnalysis.tokens (split on ' +'): single-space split
  // with empty fragments removed ≡ regex runs-of-spaces split.
  // Parameterized on the source relation so the planted-corpus
  // composition (pipeline_curate) reuses the SAME definition — the
  // tokenization cannot drift between the per-operator oracles and the
  // composed one.
  private def tokCteFor(src: String) = OracleCtes.tokCteFor(src)
  private val tokCte = OracleCtes.tokCte

  private[queries] val shCte =
    """sh AS (
         SELECT DISTINCT doc_id AS id, shingle
         FROM (SELECT doc_id,
                      unnest([array_to_string(ts[i:i+2], ' ')
                              for i in range(1, greatest(len(ts)-2, 1) + 1)]) AS shingle
               FROM tok)
         WHERE length(shingle) > 0
       )"""

  /** Jaccard>0.3 pair pipeline (df-capped), shared verbatim by the
    * dedup_ngram_jaccard and dedup_clusters oracles so the pair
    * definition cannot drift between them. */
  private[queries] val jpCte =
    """keep AS (SELECT shingle FROM sh GROUP BY shingle
                HAVING count(*) <= 1000),
       shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
       sizes AS (SELECT id, count(*) AS n_sh FROM shc GROUP BY id),
       common AS (
         SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
         FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
         GROUP BY a.id, b.id),
       jp AS (
         SELECT id1, id2, n_common,
                CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common)
                  AS jaccard
         FROM common
         JOIN sizes s1 ON s1.id = id1
         JOIN sizes s2 ON s2.id = id2
         WHERE CAST(n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - n_common) > 0.3)"""

  /** Connected-component labeling over the jp pair list (symmetrized
    * edges → recursive reachability → min-reachable label), shared by
    * the dedup_clusters / dedup_keep_list / dedup_keep_best oracles so
    * the label rule cannot drift between them. Requires WITH RECURSIVE. */
  private[queries] val ccCte =
    """edges AS (SELECT id1 AS a, id2 AS b FROM jp
                 UNION SELECT id2, id1 FROM jp),
       reach AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       lab AS (SELECT a AS id, least(a, min(b)) AS cluster_id
               FROM reach GROUP BY a)"""



  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH u AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text FROM documents
           WHERE doc_id % 10 = 0
         )
         SELECT min(doc_id) AS canonical_id,
                count(*) AS n_copies,
                array_to_string(list(doc_id ORDER BY doc_id), ',') AS member_ids
         FROM u GROUP BY text HAVING count(*) > 1
         ORDER BY canonical_id""",

    "dedup_ngram_jaccard" ->
      (s"""WITH $tokCte, $shCte, $jpCte
          SELECT id1, id2, n_common, jaccard FROM jp
          ORDER BY id1, id2"""),

    "dedup_clusters" ->
      (s"""WITH RECURSIVE $tokCte, $shCte, $jpCte, $ccCte
          SELECT id, cluster_id FROM lab ORDER BY id"""),

    "dedup_keep_best" ->
      (s"""WITH RECURSIVE $tokCte, $shCte, $jpCte, $ccCte,
          m AS (
            SELECT lab.cluster_id, lab.id,
                   CAST(length(d.text) AS INT) AS quality,
                   row_number() OVER (PARTITION BY lab.cluster_id
                                      ORDER BY length(d.text) DESC, lab.id)
                     AS rn
            FROM lab JOIN documents d ON d.doc_id = lab.id)
          SELECT cluster_id,
                 max(CASE WHEN rn = 1 THEN id END) AS best_id,
                 max(CASE WHEN rn = 1 THEN quality END) AS best_quality,
                 count(*) AS n_members
          FROM m GROUP BY cluster_id ORDER BY cluster_id"""),

    // Composition entry: every stage's rule is copied VERBATIM from its
    // per-operator oracle (gate = text_quality_gate, pairs/labels = the
    // shared jp/cc CTEs over the planted corpus, split = samp_train_test's
    // 0.8 'cccc' threshold) — the transcript proves the stages compose.
    "pipeline_curate" ->
      (s"""WITH RECURSIVE u AS (
             SELECT doc_id, coalesce(text, '') AS text FROM documents
             UNION ALL
             SELECT doc_id + 100000 AS doc_id, coalesce(text, '') AS text
             FROM documents
             WHERE doc_id % 10 = 0
           ),
           ${tokCteFor("u")}, $shCte, $jpCte, $ccCte,
           m AS (
             SELECT doc_id,
                    (CAST(len(ts) AS INT) BETWEEN 30 AND 10000)
                      AND ((CASE WHEN len(ts) > 0
                            THEN CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE) / len(ts)
                            ELSE 0.0 END) BETWEEN 3.0 AND 10.0)
                      AND ((CASE WHEN length(text) > 0
                            THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text)
                            ELSE 0.0 END) <= 0.1) AS keep_quality
             FROM tok),
           ex AS (
             SELECT doc_id,
                    doc_id <> min(doc_id) OVER (PARTITION BY text)
                      AS is_exact_dup
             FROM u)
           SELECT d.doc_id, m.keep_quality, ex.is_exact_dup,
                  coalesce(lab.id <> lab.cluster_id, FALSE) AS is_near_loser,
                  m.keep_quality AND NOT ex.is_exact_dup
                    AND NOT coalesce(lab.id <> lab.cluster_id, FALSE)
                    AS admitted,
                  CASE WHEN substr(md5('split' || CAST(d.doc_id AS VARCHAR)), 1, 4) < 'cccc'
                       THEN 'train' ELSE 'test' END AS split
           FROM u d
           JOIN m ON m.doc_id = d.doc_id
           JOIN ex ON ex.doc_id = d.doc_id
           LEFT JOIN lab ON lab.id = d.doc_id
           ORDER BY d.doc_id"""),

    // v1's transcript + the semantic stage: the dedup_semantic_exhaustive
    // labeling (pairwise cosine > 0.35 → recursive CC → min-id keeper)
    // joined on doc_id = vec_id; planted copies have no embedding row,
    // so the LEFT JOIN leaves them un-demoted
    "pipeline_curate_v2" ->
      (s"""WITH RECURSIVE u AS (
             SELECT doc_id, coalesce(text, '') AS text FROM documents
             UNION ALL
             SELECT doc_id + 100000 AS doc_id, coalesce(text, '') AS text
             FROM documents
             WHERE doc_id % 10 = 0
           ),
           ${tokCteFor("u")}, $shCte, $jpCte, $ccCte,
           semv AS (
             SELECT vec_id, embedding::DOUBLE[] AS vd FROM embeddings
           ),
           semn AS (
             SELECT vec_id, vd,
                    sqrt(list_reduce(list_transform(vd, (x,i) -> x * vd[i]),
                                     (a,b) -> a + b)) AS nrm
             FROM semv
           ),
           semp AS (
             SELECT a.vec_id AS id1, b.vec_id AS id2
             FROM semn a JOIN semn b ON a.vec_id < b.vec_id
             WHERE list_reduce(list_transform(a.vd, (x,i) -> x * b.vd[i]),
                               (p,q) -> p + q) / (a.nrm * b.nrm) > 0.35
           ),
           semedges AS (SELECT id1 AS a, id2 AS b FROM semp
                        UNION SELECT id2, id1 FROM semp),
           semreach AS (
             SELECT a, b FROM semedges
             UNION
             SELECT r.a, e.b FROM semreach r
             JOIN semedges e ON r.b = e.a),
           semlab AS (SELECT a AS id, least(a, min(b)) AS cluster_id
                      FROM semreach GROUP BY a),
           m AS (
             SELECT doc_id,
                    (CAST(len(ts) AS INT) BETWEEN 30 AND 10000)
                      AND ((CASE WHEN len(ts) > 0
                            THEN CAST(list_sum(list_transform(ts, w -> length(w))) AS DOUBLE) / len(ts)
                            ELSE 0.0 END) BETWEEN 3.0 AND 10.0)
                      AND ((CASE WHEN length(text) > 0
                            THEN CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE) / length(text)
                            ELSE 0.0 END) <= 0.1) AS keep_quality
             FROM tok),
           ex AS (
             SELECT doc_id,
                    doc_id <> min(doc_id) OVER (PARTITION BY text)
                      AS is_exact_dup
             FROM u)
           SELECT d.doc_id, m.keep_quality, ex.is_exact_dup,
                  coalesce(lab.id <> lab.cluster_id, FALSE) AS is_near_loser,
                  coalesce(semlab.id <> semlab.cluster_id, FALSE)
                    AS is_sem_loser,
                  m.keep_quality AND NOT ex.is_exact_dup
                    AND NOT coalesce(lab.id <> lab.cluster_id, FALSE)
                    AND NOT coalesce(semlab.id <> semlab.cluster_id, FALSE)
                    AS admitted,
                  CASE WHEN substr(md5('split' || CAST(d.doc_id AS VARCHAR)), 1, 4) < 'cccc'
                       THEN 'train' ELSE 'test' END AS split
           FROM u d
           JOIN m ON m.doc_id = d.doc_id
           JOIN ex ON ex.doc_id = d.doc_id
           LEFT JOIN lab ON lab.id = d.doc_id
           LEFT JOIN semlab ON semlab.id = d.doc_id
           ORDER BY d.doc_id"""),

    "dedup_incremental" ->
      (s"""WITH $tokCte, $shCte, $jpCte,
          inc AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT 100000 + doc_id * 4 AS doc_id, text FROM documents
            WHERE doc_id % 40 = 1),
          flags AS (
            SELECT d.doc_id,
                   EXISTS(SELECT 1 FROM documents o
                          WHERE o.doc_id % 4 <> 0 AND o.text = d.text)
                     AS exact_dup,
                   EXISTS(SELECT 1 FROM jp
                          WHERE (jp.id1 = d.doc_id AND jp.id2 % 4 <> 0)
                             OR (jp.id2 = d.doc_id AND jp.id1 % 4 <> 0))
                     AS near_dup
            FROM inc d)
          SELECT doc_id, exact_dup, near_dup,
                 NOT (exact_dup OR near_dup) AS admitted
          FROM flags ORDER BY doc_id"""),

    // sequential admission truth: seed = %4≠0; organic increment
    // checked exact-vs-seed and raw-size-Jaccard-vs-seed over df≤1000
    // shingles (state df + batch df ≡ whole-corpus df, since
    // seed ∪ increment = documents); planted copies all rejected by
    // the exact check; fresh one-token docs all admitted (their single
    // shingle has no seeded posting). Re-delivery adds nothing.
    "dedup_stream_admit" ->
      (s"""WITH docr AS (SELECT * FROM documents WHERE doc_id % 16 < 4),
          ${tokCteFor("docr")}, $shCte,
          sizesr AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
          keepc AS (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000),
          shc AS (SELECT sh.* FROM sh JOIN keepc USING (shingle)),
          cmn AS (SELECT a.id AS ida, b.id AS idb, count(*) AS n_common
                  FROM shc a JOIN shc b ON a.shingle = b.shingle
                  WHERE a.id % 4 = 0 AND b.id % 4 <> 0
                  GROUP BY a.id, b.id),
          nearA AS (SELECT DISTINCT cmn.ida AS doc_id
                    FROM cmn
                    JOIN sizesr sa ON sa.id = cmn.ida
                    JOIN sizesr sb ON sb.id = cmn.idb
                    WHERE CAST(cmn.n_common AS DOUBLE)
                            / (sa.n + sb.n - cmn.n_common) > 0.3),
          admA AS (SELECT d.doc_id, d.text FROM docr d
                   WHERE d.doc_id % 4 = 0
                     AND NOT EXISTS(SELECT 1 FROM docr o
                                    WHERE o.doc_id % 4 <> 0
                                      AND o.text = d.text)
                     -- within-batch exact copies: min id wins (mirrors
                     -- flagBatch's row_number-over-text rule)
                     AND NOT EXISTS(SELECT 1 FROM docr o2
                                    WHERE o2.doc_id % 4 = 0
                                      AND o2.text = d.text
                                      AND o2.doc_id < d.doc_id)
                     AND NOT EXISTS(SELECT 1 FROM nearA n
                                    WHERE n.doc_id = d.doc_id)),
          fin AS (
            SELECT doc_id, text FROM docr WHERE doc_id % 4 <> 0
            UNION ALL SELECT doc_id, text FROM admA
            UNION ALL SELECT doc_id + 200000 AS doc_id,
                             'zqx' || CAST(doc_id AS VARCHAR) AS text
                      FROM docr WHERE doc_id % 40 = 3)
          SELECT f.doc_id, CAST(length(f.text) AS INT) AS n_chars,
                 CAST(coalesce(sz.n,
                   CASE WHEN f.doc_id >= 200000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_sh
          FROM fin f LEFT JOIN sizesr sz ON sz.id = f.doc_id
          ORDER BY f.doc_id"""),

    "text_decontaminate" -> decontaminateOracle,
    // the Bloom prefilter is removed by the exact join — same truth
    "text_decontaminate_bloom" -> decontaminateOracle,

    // same df-capped inverted index as the jaccard entries; only the
    // denominator changes (each direction's own size)
    "dedup_containment" ->
      (s"""WITH u AS (
             SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 100000 AS doc_id,
                    array_to_string(list_filter(
                      string_split(lower(trim(text)), ' '),
                      t -> t <> '')[1:15], ' ') AS text
             FROM documents WHERE doc_id % 20 = 0
           ),
           ${tokCteFor("u")}, $shCte,
           keep AS (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000),
           shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
           sizes AS (SELECT id, count(*) AS n_sh FROM shc GROUP BY id),
           common AS (
             SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
             FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.id < b.id
             GROUP BY a.id, b.id),
           cj AS (SELECT c.id1, c.id2, c.n_common,
                         s1.n_sh AS n1, s2.n_sh AS n2
                  FROM common c
                  JOIN sizes s1 ON s1.id = c.id1
                  JOIN sizes s2 ON s2.id = c.id2),
           dir AS (
             SELECT id1 AS id_contained, id2 AS id_container, n_common,
                    CAST(n_common AS DOUBLE) / n1 AS containment FROM cj
             UNION ALL
             SELECT id2 AS id_contained, id1 AS id_container, n_common,
                    CAST(n_common AS DOUBLE) / n2 AS containment FROM cj)
           SELECT id_contained, id_container, n_common, containment
           FROM dir WHERE containment > 0.8
           ORDER BY id_contained, id_container"""),

    "dedup_keep_list" ->
      (s"""WITH RECURSIVE $tokCte, $shCte, $jpCte, $ccCte
          SELECT d.doc_id,
                 COALESCE(lab.cluster_id, d.doc_id) AS canonical_id,
                 COALESCE(lab.cluster_id, d.doc_id) = d.doc_id AS keep
          FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
          ORDER BY d.doc_id"""),

    // keep_list's canonical labeling + samp_train_test's md5 rule,
    // keyed on the CANONICAL id (0.8 → 'cccc', see SamplingOps)
    "samp_split_safe" ->
      (s"""WITH RECURSIVE $tokCte, $shCte, $jpCte, $ccCte
          SELECT d.doc_id,
                 COALESCE(lab.cluster_id, d.doc_id) AS canonical_id,
                 CASE WHEN substr(md5('split' ||
                        CAST(COALESCE(lab.cluster_id, d.doc_id) AS VARCHAR)),
                        1, 4) < 'cccc'
                      THEN 'train' ELSE 'test' END AS split
          FROM documents d LEFT JOIN lab ON lab.id = d.doc_id
          ORDER BY d.doc_id"""),

    "dedup_minhash_lsh" ->
      (s"""WITH $tokCte, $shCte,
          dict AS (SELECT shingle, dense_rank() OVER (ORDER BY shingle) AS sid
                   FROM (SELECT DISTINCT shingle FROM sh)),
          enc AS (SELECT sh.id, dict.sid FROM sh JOIN dict USING (shingle)),
          params AS (SELECT range AS k, range*2+3 AS a, range*5+7 AS b FROM range(16)),
          mh AS (SELECT enc.id, params.k,
                        min((params.a * enc.sid + params.b) % 100003) AS minhash
                 FROM enc CROSS JOIN params GROUP BY enc.id, params.k),
          banded AS (SELECT id, CAST(k // 2 AS INT) AS band,
                            string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY k) AS sig
                     FROM mh GROUP BY id, k // 2)
          SELECT DISTINCT l.id AS id1, r.id AS id2
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
          ORDER BY id1, id2"""),

    "dedup_simhash" ->
      (s"""WITH $tokCte, $shCte,
          dict AS (SELECT shingle, dense_rank() OVER (ORDER BY shingle) AS sid
                   FROM (SELECT DISTINCT shingle FROM sh)),
          enc AS (SELECT sh.id, dict.sid FROM sh JOIN dict USING (shingle)),
          bits AS (SELECT range AS b FROM range(32)),
          contrib AS (SELECT enc.id, bits.b,
                             SUM(((enc.sid * (bits.b*2+3) + (bits.b*3+1)) % 100003 % 2) * 2 - 1) AS s
                      FROM enc CROSS JOIN bits GROUP BY enc.id, bits.b),
          sk AS (SELECT id,
                        SUM(CASE WHEN s > 0 THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END) AS simhash
                 FROM contrib GROUP BY id)
          SELECT a.id AS id1, b.id AS id2,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM sk a JOIN sk b ON a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
          ORDER BY id1, id2"""),

  )

  /** Shared by text_decontaminate, text_decontaminate_bloom, and the
    * persisted-state-served twin in [[CorpusOps]] — one rendering, so
    * the three paths cannot drift from each other's contract. */
  private[queries] lazy val decontaminateOracle: String =
    s"""WITH $tokCte, $shCte,
        bench AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0),
        flagged AS (
          SELECT DISTINCT id FROM sh
          WHERE id % 97 <> 0
            AND shingle IN (SELECT shingle FROM bench))
        SELECT d.doc_id, (f.id IS NOT NULL) AS contaminated
        FROM documents d LEFT JOIN flagged f ON f.id = d.doc_id
        WHERE d.doc_id % 97 <> 0
        ORDER BY d.doc_id"""

}
