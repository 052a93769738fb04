package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.multimodal.Multimodal

/** Streaming MULTIMODAL admission — [[StreamAdmission]]'s per-batch
  * protocol on the perceptual-hash tier: a `readStream` of (id,
  * payload) media rows is fingerprinted per micro-batch into the one
  * media form (id, frame_no, fp) — an image dHash or an audio envelope
  * gradient is one row with frame_no 0, a clip one row per frame
  * ([[Multimodal.imageFp]], [[Multimodal.audioFp]],
  * [[Multimodal.clipFp]] — the caller picks the codec) — checked
  * against the committed rows by banded Hamming distance, and only
  * perceptually-novel assets fold in. Re-encoded, resized,
  * format-converted, channel-converted, slightly perturbed,
  * re-edited, or trimmed re-uploads of committed media are rejected
  * at ingest — the incremental form of
  * [[Multimodal.nearDupClusters]], for corpora that arrive as daily
  * deliveries rather than one batch.
  *
  * Decision semantics for a batch B against committed rows S
  * (mirrored by the `mm_stream_admit` / `mm_audio_stream_admit` /
  * `mm_frame_stream_admit` DuckDB oracles):
  *   - undecodable payloads are dropped at the fingerprint gate (never
  *     throw, never admit — [[graft.multimodal.PixelCodec]] hostile-
  *     input discipline);
  *   - redelivered ids (already in S) are skipped — replay converges;
  *   - near: Hamming(any row of the asset, any committed row) ≤
  *     maxDist → rejected. Identical payloads are the dist-0 case, so
  *     exact re-uploads need no separate byte check, and a clip that
  *     shares any frame with a committed one (a trim) is caught;
  *   - admitted = neither, with every row. Near-dups WITHIN one batch
  *     are admitted together, exactly like the batch clusterer applied
  *     to that increment (same rule as [[StreamAdmission.flagBatch]]).
  *
  * State is ONE parquet table `fps/` (id, frame_no, fp) maintained
  * through [[MergeableStream.applyBatch]] — the fold inherits its
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
  * rows are 24 bytes per frame. The whole-table rewrite per batch is
  * [[MergeableStream]]'s parquet-state price; at 100 TB state, a
  * merge-on-read table format confines the rewrite to touched
  * partitions with the decision logic unchanged.
  */
object MediaAdmission {

  /** Fingerprint a batch of (idCol, payloadCol) rows into the one media
    * form, (id, frame_no, fp) — [[Multimodal.fingerprints]] with the id
    * column cast to long: one row for a still or an audio stream, one
    * per frame for a clip; undecodables drop. Rows whose id is null (or
    * a non-numeric string the long cast nulls out) drop WITH them —
    * dirty id columns must not crash the micro-batch at the Dataset
    * decode. Any long id passes unchanged. */
  def fingerprints(batch: DataFrame, idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Seq[Long]): DataFrame =
    Multimodal.fingerprints(
        batch.select(col(idCol).try_cast("long").as("asset_id"),
            col(payloadCol).as("payload"))
          .filter(col("asset_id").isNotNull),
        fingerprint)
      .withColumnRenamed("asset_id", "id")
      .dropDuplicates("id", "frame_no")

  /** One micro-batch fold: fingerprint, drop committed ids, reject every
    * asset with ANY row within `maxDist` of ANY committed row, merge the
    * admitted assets' full row sets. Returns false iff the batch id was
    * already applied (replay skip). */
  private[graft] def admitBatch(batch: DataFrame, batchId: Long,
      statePath: String, idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Seq[Long],
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
      fingerprint: Array[Byte] => Seq[Long]): Unit = {
    admitBatch(assets, -1L, statePath, idCol, payloadCol, fingerprint)
    ()
  }

  /** Start the checkpointed admission stream. Streaming operator state
    * stays empty (the fingerprint table IS the state), so restarts
    * replay only the unfinished batch and [[MergeableStream]]'s
    * batch-id marker makes the replay converge. */
  def start(stream: DataFrame, statePath: String, checkpoint: String,
      idCol: String, payloadCol: String,
      fingerprint: Array[Byte] => Seq[Long],
      maxDist: Int = 2): StreamingQuery =
    ForeachBatch.start(stream, checkpoint) { (batch, batchId) =>
      admitBatch(batch, batchId, statePath, idCol, payloadCol,
        fingerprint, maxDist)
      ()
    }
}
