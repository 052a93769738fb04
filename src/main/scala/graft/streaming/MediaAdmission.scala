package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup

/** Streaming MULTIMODAL admission — [[StreamAdmission]]'s per-batch
  * protocol on the perceptual-hash tier: a `readStream` of (id,
  * payload) media rows is fingerprinted per micro-batch (image dHash
  * via [[graft.multimodal.PixelCodec.phash]], audio envelope gradient
  * via [[graft.multimodal.AudioCodec.afp]] — the caller picks the
  * codec), checked against the committed fingerprint state by banded
  * Hamming distance, and only perceptually-novel assets fold in.
  * Re-encoded, resized, format-converted, channel-converted, or
  * slightly perturbed re-uploads of committed media are rejected at
  * ingest — the incremental form of [[graft.multimodal.Multimodal
  * .nearDupMediaClusters]]/`nearDupAudioClusters`, for corpora that
  * arrive as daily deliveries rather than one batch.
  *
  * Decision semantics for a batch B against committed fingerprints S
  * (mirrored by the `mm_stream_admit` / `mm_audio_stream_admit`
  * DuckDB oracles):
  *   - undecodable payloads are dropped at the fingerprint gate (never
  *     throw, never admit — [[graft.multimodal.PixelCodec]] hostile-
  *     input discipline);
  *   - redelivered ids (already in S) are skipped — replay converges;
  *   - near: Hamming(fp, any committed fp) ≤ maxDist → rejected.
  *     Identical payloads are the dist-0 case, so exact re-uploads
  *     need no separate byte check;
  *   - admitted = neither. Near-dups WITHIN one batch are admitted
  *     together, exactly like the batch clusterer applied to that
  *     increment (same rule as [[StreamAdmission.flagBatch]]).
  *
  * State is ONE parquet table `fps/` (id, fp) maintained through
  * [[MergeableStream.applyBatch]] — the fold inherits its
  * batch-id replay protection and atomic swap, so a replayed
  * micro-batch is a no-op and a crash mid-commit leaves the previous
  * state visible. (Admission is order-dependent across batches — the
  * first delivery of a scene wins — which is exactly the sequential
  * semantics the marker protocol pins; within one batch the decision
  * is a pure function of (B, S).)
  *
  * Scale shape: the only state touch per batch is the banded
  * fingerprint probe ([[Dedup.simhashMatches]] — probe × reference
  * band join, work bounded by the BATCH's band collisions, never
  * state²) plus the id anti-join; media bytes never shuffle (the
  * fingerprint projection is the only pass over payloads) and state
  * rows are 16 bytes/asset. The whole-table rewrite per batch is
  * [[MergeableStream]]'s parquet-state price; at 100 TB state, a
  * merge-on-read table format confines the rewrite to touched
  * partitions with the decision logic unchanged.
  */
object MediaAdmission {

  /** Fingerprint a batch of (idCol, payloadCol) rows: one
    * `mapPartitions` projection (decoder init per partition, 16-byte
    * output rows), undecodables dropped. Rows whose id is null (or a
    * non-numeric string the long cast nulls out) drop WITH them —
    * dirty id columns must not crash the micro-batch at the Dataset
    * decode. */
  def fingerprints(batch: DataFrame, idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Option[Long]): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col(idCol).try_cast("long").as("__id"), col(payloadCol))
      .filter(col("__id").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        Option(p).flatMap(fingerprint).map(f => (id, f)) })
      .toDF("id", "fp")
      .dropDuplicates("id")
  }

  /** One micro-batch fold: fingerprint, drop committed ids, reject
    * fingerprints within `maxDist` of any committed fingerprint, merge
    * the admitted remainder. Returns false iff the batch id was
    * already applied (replay skip). */
  private[graft] def admitBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Option[Long],
      maxDist: Int = 2): Boolean =
    MergeableStream.applyBatch(batch, batchId, s"$statePath/fps",
      summarize = b => fingerprints(b, idCol, payloadCol, fingerprint),
      merge = (state, delta) => {
        val fresh = delta
          .join(state.select("id"), Seq("id"), "left_anti")
        val near = Dedup.simhashMatches(
          fresh.select(col("id"), col("fp").as("simhash")),
          state.select(col("id"), col("fp").as("simhash")),
          maxDist, bits = 64, bands = 8)
        state.unionByName(fresh.join(near, Seq("id"), "left_anti"))
      })

  /** Initialize state from an already-curated media corpus (no
    * admission checks — the seed IS the corpus). Idempotent: a second
    * seed against existing state is the replay no-op. */
  def seed(spark: SparkSession, assets: DataFrame, statePath: String,
      idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Option[Long]): Unit = {
    admitBatch(assets, -1L, statePath, idCol, payloadCol, fingerprint)
    ()
  }

  /** Start the checkpointed admission stream. Streaming operator state
    * stays empty (the fingerprint table IS the state), so restarts
    * replay only the unfinished batch and [[MergeableStream]]'s
    * batch-id marker makes the replay converge. */
  def start(stream: DataFrame, statePath: String, checkpoint: String,
      idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Option[Long],
      maxDist: Int = 2): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, batchId) =>
      admitBatch(batch, batchId, statePath, idCol, payloadCol,
        fingerprint, maxDist)
      ()
    }

  // ---- the clip (many-fingerprints-per-asset) protocol ----

  /** Frame-level fingerprints of animated-clip payloads: one composite
    * (clip·512 + frame_no, dHash) row per decoded frame — the clip
    * analog of [[fingerprints]] (512 = 2 × the decoder's maxFrames
    * cap, so the ordinal never collides). Undecodable clips drop
    * whole. Id-range CONTRACT: the composite pack/unpack (id·512 + i /
    * `id div 512`) is exact only for 0 ≤ id < 2^54/512 — negative ids
    * would alias under Spark's truncate-toward-zero `div` (clip -1's
    * frames landing under clip 0) — so null, negative, and ≥2^45 ids
    * all drop at this gate with the undecodables. */
  private[graft] def clipFingerprints(batch: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    import graft.multimodal.{Multimodal, PixelCodec}
    batch.select(col(idCol).try_cast("long").as("__id"), col(payloadCol))
      .filter(col("__id").isNotNull && col("__id") >= 0 &&
        col("__id") < (1L << 45))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        Option(p).flatMap(Multimodal.decodeClipFrames).toSeq
          .flatMap(_.iterator.zipWithIndex.flatMap { case (fr, i) =>
            PixelCodec.lumaGrid8(fr).map(g =>
              (id * 512 + i, PixelCodec.dhash64(g)))
          })
      })
      .toDF("id", "fp")
      .dropDuplicates("id")
  }

  /** One clip micro-batch fold: decode + frame-fingerprint, drop
    * already-committed clips, reject any clip with AT LEAST ONE frame
    * within `maxDist` of a committed frame (catching re-edits,
    * trims, and re-encodes that share any content), merge the
    * admitted clips' full frame sets. Decision semantics otherwise
    * mirror [[admitBatch]]: within-batch near-dup clips admit
    * together; replay is a no-op via the batch-id marker. The state
    * probe stays [[Dedup.simhashMatches]] over frame rows (probe ×
    * reference band join — work bounded by the batch's band
    * collisions, never state²), so the clip protocol costs the same
    * shape as the single-fingerprint one, just F rows per asset. */
  private[graft] def admitClipBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, payloadCol: String,
      maxDist: Int = 2): Boolean =
    MergeableStream.applyBatch(batch, batchId, s"$statePath/ffps",
      summarize = b => clipFingerprints(b, idCol, payloadCol),
      merge = (state, delta) => {
        val committed = state
          .select(expr("id div 512").as("__clip")).distinct()
        val fresh = delta.withColumn("__clip", expr("id div 512"))
          .join(committed, Seq("__clip"), "left_anti")
        val rejected = Dedup.simhashMatches(
            fresh.select(col("id"), col("fp").as("simhash")),
            state.select(col("id"), col("fp").as("simhash")),
            maxDist, bits = 64, bands = 8)
          .select(expr("id div 512").as("__clip")).distinct()
        state.unionByName(fresh
          .join(rejected, Seq("__clip"), "left_anti")
          .select("id", "fp"))
      })

  /** Seed the clip state from an already-curated corpus (idempotent —
    * the replay no-op, like [[seed]]). */
  def seedClips(spark: SparkSession, assets: DataFrame,
      statePath: String, idCol: String, payloadCol: String): Unit = {
    admitClipBatch(assets, -1L, statePath, idCol, payloadCol)
    ()
  }

  /** The checkpointed clip-admission stream — [[start]]'s shape over
    * [[admitClipBatch]]. */
  def startClips(stream: DataFrame, statePath: String,
      checkpoint: String, idCol: String, payloadCol: String,
      maxDist: Int = 2): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, batchId) =>
      admitClipBatch(batch, batchId, statePath, idCol, payloadCol, maxDist)
      ()
    }
}
