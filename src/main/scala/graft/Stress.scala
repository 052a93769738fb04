package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: measures the heavy-tier operators across
  * three data decades and reports the observed scaling exponent per
  * entry, so the df-cap/banding/cell-bound claims in `docs/SCALE.md`
  * are backed by numbers instead of argument.
  *
  * There is no driver-provisioned sf1 testdata, so the top decade is
  * synthesized from sf0.1 by 10× replication with per-replica
  * perturbation chosen to preserve the workload's *shape* rather than
  * inflate it:
  *   - documents: replica k suffixes every whitespace token with "_k",
  *     so replicas share no shingles — near-dup structure (planted and
  *     organic) replicates linearly instead of every doc becoming a
  *     10-way near-duplicate;
  *   - embeddings: replica k rotates the vector by k positions —
  *     norm-preserving, so within-replica cosine structure is
  *     identical and cross-replica cosines are incidental;
  *   - customer: replica k re-keys and regenerates `c_name` from the
  *     new key (TPC-H `Customer#` + 9 digits), keeping the name-tail
  *     entropy the fuzzy blocking relies on.
  * Replica 0 is the untouched original, so sf1 ⊇ sf0.1 byte-for-byte.
  *
  * The sf1 tables are a [[graft.queries.Fixture]] directory
  * (`graft_sf1_<hex>` in the JVM's temp directory), cleared and rebuilt
  * on every run like every other fixture, so they are always made by
  * this code from the current sf0.1 tables. The step is a fixed 10×:
  * each exponent is `log10` of a time ratio over one decade.
  *
  * Protocol: [[Bench]]'s run loop at each scale — every registry
  * `*_build` first, each timed as its own entry ([[Bench.runBuilds]]),
  * then each listed entry once, steady-state. Exponents are fitted on
  * the top decade (sf0.1 → sf1), where per-entry times are seconds and
  * fixed overhead (~0.1 s/job scheduling floor) doesn't dominate;
  * the lower decade is reported for reference only.
  *
  * Output: one JSON line + `BENCH_SF1.json` (override with
  * `SPARK_GRAFT_STRESS_OUT`).
  */
object Stress {

  /** The heavy tier: everything superconstant per row — candidate
    * generation, iterative graph passes, streaming admission. */
  private val Heavy = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_containment", "dedup_clusters",
    "dedup_paragraph", "dedup_incremental",
    "dedup_passage_spans", "dedup_passage_clean", "dedup_passage_top",
    "dedup_stream_admit", "dedup_embed_cosine", "dedup_semantic",
    "text_decontaminate", "text_decontaminate_served",
    "text_decontaminate_spans", "text_decontaminate_spans_served",
    "text_novelty_score",
    "graph_degrees", "graph_pagerank", "graph_trustrank", "graph_hits",
    "j9_fuzzy_match", "sim_cosine_topk",
    // exhaustive twins (BY-DESIGN brute-force equivalents of their
    // probed production dials — super-linear exponents are the
    // documented expectation; they exist so every ANN/cell tier has a
    // hash-green anchor) + the two bounded-candidate semi-join forms
    "dedup_semantic_exhaustive", "sim_pq_exhaustive",
    "sim_ivf_exhaustive", "j2_disjunctive_semi", "j7_bloom_semi")

  /** Text / retrieval / sampling / curation tier (documents +
    * embeddings): tokenizers are linear scans, BM25/tf-idf are
    * posting-list aggs, the curate pipelines compose the gated corpus,
    * the ANN prod dials bound candidate tiles. */
  private val TextTier = Seq(
    "text_tokens", "text_tokens_bpe", "vocab_topk", "vocab_bpe_topk",
    "text_tfidf_topk", "text_line_rules", "text_classifier_score",
    "text_bm25_topk", "text_bm25_pinned", "text_bm25_chunks",
    "retrieval_hybrid_rrf_pinned",
    "samp_mixture_bpe", "samp_mixture_epochs", "samp_temperature_alpha",
    "dedup_keep_best", "dedup_prod_paths", "emb_nn_classify",
    "sim_ivf_topk", "sim_pq_topk", "sim_hard_negatives",
    "pipeline_curate", "pipeline_curate_v2", "pipeline_curate_v3",
    "pipeline_curate_v4", "pipeline_curate_v5", "pipeline_curate_v6",
    "pipeline_curate_v7",
    "text_lm_train", "text_lm_pinned", "text_lm_score",
    "text_lm_buckets",
    "text_heavy_hitters", "text_heavy_hitters_exact",
    "samp_split_safe", "pack_dpo_pairs", "pack_length_buckets",
    "text_fix_encoding", "sim_hard_negatives_ann",
    "pack_sft", "vocab_bpe_train", "web_anchor_index",
    "text_html_extract", "mm_decode_av", "text_heavy_hitters_stream",
    "web_anchor_bm25", "mm_phash", "mm_dedup_near",
    "pipeline_curate_v8", "mm_audio_fp", "mm_audio_near",
    "pipeline_curate_v9", "mm_stream_admit", "mm_audio_stream_admit",
    "mm_mp3_exact", "mm_ogg_exact", "mm_opus_exact", "mm_m4a_exact",
    "mm_frame_sample", "mm_frame_near", "pipeline_curate_v10",
    "mm_frame_stream_admit", "mm_clip_exact", "mm_webm_exact",
    "mm_ts_exact", "mm_avif_exact", "mm_oggflac_exact",
    "warc_ingest", "warc_extract", "pipeline_curate_v11",
    "pipeline_curate_v12")

  /** Relational / windows / layout tier (orders + lineitem + events —
    * amplified fact tables; region/nation/supplier/part stay dim-sized,
    * the realistic 100 TB shape where facts grow and dims don't). */
  private val RelTier = Seq(
    "q1_pricing_summary", "ops_profile", "a7_rollup", "ops_incr_agg",
    "ops_incr_distinct", "ops_incr_quantile", "ops_incr_quantile_stream",
    "a7_count_distinct", "a8_array_funcs", "j4_join_revenue_nation",
    "j8_scd2_merge",
    "w1_sessionization", "w6_active_users", "w7_transitions",
    "w8_interval_union", "w9_gap_fill",
    "w10_capped_sessions", "w10_capped_sessions_stream",
    "w11_windowed_quantile", "w11_windowed_quantile_stream",
    "t2_watermark_dedup", "a7_percentile_sketch",
    "layout_partition_prune", "layout_zorder_scan",
    "layout_bucketed_join", "layout_compact", "export_range_sorted",
    "src_csv_roundtrip", "src_orc_roundtrip")

  /** One decade: sf1 holds 10 replicas of sf0.1. */
  private val Amp = 10

  private def tokenSuffixed(text: Column, rep: Column): Column =
    array_join(
      transform(split(text, " "),
        t => when(t === "", t)
          .otherwise(concat(t, lit("_"), rep.cast("string")))),
      " ")

  /** Rotate an array<float> left by `rep` positions (norm-preserving). */
  private def rotated(vec: Column, rep: Column): Column =
    when(rep === 0, vec).otherwise(concat(
      slice(vec, rep + 1, size(vec) - rep), slice(vec, lit(1), rep)))

  /** Write the sf1 tables synthesized from `base` into `out`. */
  private def amplify(spark: SparkSession, base: String, out: String)
      : Unit = {
    val reps = broadcast(
      spark.range(Amp).select(col("id").cast("int").as("__rep")))

    val docs = Tables.documents(spark, base)
    val dStride = docs.agg(max("doc_id")).head().getLong(0) + 1
    docs.crossJoin(reps)
      .select((col("doc_id") + col("__rep") * dStride).as("doc_id"),
        when(col("__rep") === 0, col("text"))
          .otherwise(tokenSuffixed(col("text"), col("__rep"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.embeddings(spark, base)
    val eStride = emb.agg(max("vec_id")).head().getLong(0) + 1
    emb.crossJoin(reps)
      .select((col("vec_id") + col("__rep") * eStride).as("vec_id"),
        rotated(col("embedding"), col("__rep")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val cust = Tables.customer(spark, base)
    val cStride = cust.agg(max("c_custkey")).head().getLong(0) + 1
    cust.crossJoin(reps)
      .withColumn("__k", col("c_custkey") + col("__rep") * cStride)
      .select(col("__k").as("c_custkey"),
        when(col("__rep") === 0, col("c_name"))
          .otherwise(concat(lit("Customer#"),
            lpad(col("__k").cast("string"), 9, "0"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    // Fact tables: stride re-keying preserves join consistency —
    // orders.o_custkey follows the customer stride, lineitem.l_orderkey
    // the orders stride, so every replica joins only its own replica
    // (key cardinality, fan-out, and skew shape all scale ×amp).
    // part/supplier keys are left as-is: those dims stay dim-sized, so
    // their fan-in grows ×amp — exactly what 100 TB facts do to dims.
    val ord = Tables.orders(spark, base)
    val oStride = ord.agg(max("o_orderkey")).head().getLong(0) + 1
    ord.crossJoin(reps)
      .select((col("o_orderkey") + col("__rep") * oStride).as("o_orderkey"),
        (col("o_custkey") + col("__rep") * cStride).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")

    Tables.lineitem(spark, base).crossJoin(reps)
      .select((col("l_orderkey") + col("__rep") * oStride).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events: users replicate (×amp users, per-user timelines intact),
    // timestamps untouched — session/window structure per key is
    // preserved while key cardinality and row count scale ×amp.
    val ev = Tables.events(spark, base)
    val evStride = ev.agg(max("event_id")).head().getLong(0) + 1
    val uStride = ev.agg(max("user_id")).head().getLong(0) + 1
    ev.crossJoin(reps)
      .select((col("event_id") + col("__rep") * evStride).as("event_id"),
        col("ts"),
        (col("user_id") + col("__rep") * uStride).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // true dimensions: byte-copy — dims stay small at any fact scale
    Seq("region", "nation", "supplier", "part").foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(base, s"$t.parquet"),
        java.nio.file.Paths.get(out, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** dedup_semantic with the cell count grown ∝ corpus (the registry
    * entry pins numCells = 8 for oracle determinism; at scale the cell
    * count is the knob that keeps Σ|cell|² linear). */
  private def semanticScaled(s: SparkSession, d: String,
      cells: Int): DataFrame =
    graft.sim.SemDedup.semanticDedup(
      Tables.embeddings(s, d), 0.35, numCells = cells)

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL",
      "/root/testdata/sf0.01")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    GraftSession.warm(spark, small)
    CacheScope.releaseAll(spark)
    val work = graft.queries.Fixture.dir(spark, base, "sf1") { out =>
      amplify(spark, base, out); out
    }

    // Queries reuse the session-memoized builds within a scale, so the
    // non-build entries stay steady-state.
    val scales = Seq(("sf0.01", small, 0.01), ("sf0.1", base, 0.1),
      ("sf1", work, 1.0))
    val times: Seq[(String, Seq[(String, Double)])] = scales.map {
      case (label, dir, sf) =>
        val builds = Bench.runBuilds(spark, dir)
        val entries = Bench.timeEach((Heavy ++ TextTier ++ RelTier)
          .map(n => n -> SparkEntry.queries(n)))(
          fn => Bench.force(fn(spark, dir)))
        // scaled-cells variant: 8 cells at the sf0.1 anchor, ∝ sf
        val cells = math.max(2, math.round(8 * sf / 0.1).toInt)
        val scaled = "dedup_semantic_cells_scaled"
        val scaledTime = Bench.timed(scaled)(
          Bench.force(semanticScaled(spark, dir, cells)))
        CacheScope.releaseAll(spark)
        System.err.println(s"stress: $label done")
        label -> (builds ++ entries :+ (scaled -> scaledTime))
    }

    val byScale = times.toMap
    val t01 = byScale("sf0.1").toMap
    val t001 = byScale("sf0.01").toMap
    val t1 = byScale("sf1").toMap
    def expo(hi: Map[String, Double], lo: Map[String, Double])(
        n: String): Option[Double] =
      for {
        h <- hi.get(n); l <- lo.get(n)
        if h > 0 && l > 0
      } yield math.log10(h / l)
    val names = byScale("sf1").map(_._1)
    import Bench.{num, obj}
    val expTop = names.flatMap(n => expo(t1, t01)(n).map(n -> _))
    val expLow = names.flatMap(n => expo(t01, t001)(n).map(n -> _))
    val total1 = byScale("sf1").map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"sf1_total","value":${num(total1)},"unit":"sec"""" +
      s""","amp":$Amp,"queries":${obj(byScale("sf1"))}""" +
      s""","exponent_sf01_to_sf1":${obj(expTop)}""" +
      s""","exponent_sf001_to_sf01":${obj(expLow)}""" +
      s""","times_sf01":${obj(byScale("sf0.1"))}""" +
      s""","times_sf001":${obj(byScale("sf0.01"))}""" +
      s""","sf":${Bench.str(work)}}"""
    CacheScope.releaseAll(spark)   // its WARNs must precede the JSON line
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_STRESS_OUT", "BENCH_SF1.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
