package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.{AudioCodec, Multimodal, PixelCodec}
import graft.streaming.MediaAdmission

/** Per-batch semantics of the streamed multimodal admission protocol
  * (the registry's mm_stream_admit / mm_audio_stream_admit run the
  * full checkpointed stream; this spec pins the decision rules batch
  * by batch): near rejection at dist 0 and ≤maxDist, within-batch
  * co-admission, redelivery no-op via the id skip AND via the
  * MergeableStream batch-id marker, undecodable drop, and the
  * cross-side banded probe's exactness. */
class MediaAdmissionSpec extends AnyFunSuite {
  import TestSpark._

  private def png(scene: Long, variant: Int = 0): Array[Byte] = {
    val grid = PixelCodec.sceneGrid(scene)
    variant match {
      case 0 => PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64))
      case 1 => PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 32))
      case 3 =>
        val p = grid.clone(); p(4 * 8 + 3) = (p(4 * 8 + 3) + 16) % 256
        PixelCodec.encodeGray8Png(PixelCodec.renderGrid(p, 64))
      case _ => PixelCodec.encodeGray8Png(
        PixelCodec.renderGrid(grid, 64)).take(60)
    }
  }

  private def batch(rows: (Long, Array[Byte])*): DataFrame = {
    import TestSpark.spark.implicits._
    rows.toSeq.toDF("asset_id", "payload")
  }

  private def stateIds(path: String): Seq[Long] =
    spark.read.parquet(s"$path/fps").select("id")
      .collect().map(_.getLong(0)).toSeq.sorted

  private def tmp(tag: String): String =
    TestSpark.tempDir(tag).toString + "/state"

  test("simhashMatches: cross-side banded probe is exact for maxDist < bands") {
    import TestSpark.spark.implicits._
    val ref = Seq((1L, 0L), (2L, -1L)).toDF("id", "simhash")
    val probe = Seq(
      (10L, 0L),                  // dist 0 to ref 1
      (11L, 3L),                  // dist 2 to ref 1
      (12L, 7L),                  // dist 3 to ref 1: beyond maxDist=2
      (13L, -4L),                 // dist 2 to ref 2 (bits 0,1 cleared)
      (14L, 0x0f0f0f0fL)          // far from both
    ).toDF("id", "simhash")
    val hits = Dedup.simhashMatches(probe, ref, maxDist = 2,
        bits = 64, bands = 8)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(hits === Seq(10L, 11L, 13L))
  }

  test("admission: near rejection, within-batch co-admission, id skip, replay marker, decode drop") {
    val state = tmp("media_admit")
    // seed: scenes 1 and 2
    MediaAdmission.seed(spark, batch(1L -> png(1), 2L -> png(2)), state,
      "asset_id", "payload", Multimodal.imageFp)
    assert(stateIds(state) === Seq(1L, 2L))
    // batch 0: resized copy of 1 (dist 0) and perturbed 2 (≤2 bits)
    // rejected; fresh scenes 50+51 admitted TOGETHER even though they
    // only meet this batch; corrupt payload dropped at decode
    assert(MediaAdmission.admitBatch(
      batch(10L -> png(1, 1), 11L -> png(2, 3),
        50L -> png(50), 51L -> png(51), 60L -> png(60, 4)),
      0L, state, "asset_id", "payload", Multimodal.imageFp))
    assert(stateIds(state) === Seq(1L, 2L, 50L, 51L))
    // batch 1: redelivered id 50 skips (already committed) even though
    // its fingerprint would self-match; near-dup of 51 rejected
    assert(MediaAdmission.admitBatch(
      batch(50L -> png(50), 52L -> png(51, 1)),
      1L, state, "asset_id", "payload", Multimodal.imageFp))
    assert(stateIds(state) === Seq(1L, 2L, 50L, 51L))
    // replaying batch 1 is a no-op by MARKER (returns false, state
    // untouched) — crash-replay convergence
    assert(!MediaAdmission.admitBatch(
      batch(99L -> png(99)),
      1L, state, "asset_id", "payload", Multimodal.imageFp))
    assert(stateIds(state) === Seq(1L, 2L, 50L, 51L))
    // a later batch id with a genuinely fresh scene admits
    assert(MediaAdmission.admitBatch(
      batch(99L -> png(99)),
      2L, state, "asset_id", "payload", Multimodal.imageFp))
    assert(stateIds(state) === Seq(1L, 2L, 50L, 51L, 99L))
  }

  private def clipFrames(scene: Long, n: Int = 4,
      pert: Boolean = false): Seq[PixelCodec.Gray] =
    graft.queries.MultimodalFrameOps.frameGrids(scene, n, pert)

  private def gif(scene: Long, n: Int = 4): Array[Byte] =
    graft.multimodal.GifCodec.encodeGifAnimated(clipFrames(scene, n))

  /** (id, frame_no) rows of the state table, sorted. */
  private def stateRows(path: String): Seq[(Long, Long)] =
    spark.read.parquet(s"$path/fps").select("id", "frame_no")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("clip tier: one row per frame, trim/re-edit/perturb rejection") {
    import graft.multimodal.GifCodec
    val state = tmp("clip_admit")
    def clip(scene: Long, salt: Int = 7): Array[Byte] =
      GifCodec.encodeGifAnimated(clipFrames(scene), salt = salt)
    MediaAdmission.seed(spark, batch(1L -> clip(1)), state,
      "asset_id", "payload", Multimodal.clipFp)
    assert(stateIds(state).distinct === Seq(1L))
    // state holds every frame of the seeded clip
    assert(stateRows(state) === (0L until 4L).map(1L -> _))
    // re-edit (full-canvas interlaced re-encode: every frame dist 0),
    // TRIMMED copy (frame 0 dropped — remaining frames still match),
    // and perturbed (every frame ≤2 bits) all rejected; fresh clip
    // admitted; truncated clip dropped at decode
    val trimmed = GifCodec.encodeGifAnimated(clipFrames(1).tail, salt = 2)
    val reEdit = GifCodec.encodeGifAnimated(clipFrames(1), salt = 3,
      deltaRect = false, interlaced = true)
    val corrupt = { val b = clip(9); b.take(b.length / 2) }
    // cross-container copy: the same frames as an MJPEG-MP4 must be
    // rejected at dist 0 through the shared decode seam
    val mp4Copy = graft.multimodal.Mp4Codec.encodeMjpegMp4(clipFrames(1))
    assert(MediaAdmission.admitBatch(
      batch(10L -> reEdit, 11L -> trimmed,
        12L -> clip(1, salt = 5).tail.tail, // garbage (header cut): drop
        13L -> GifCodec.encodeGifAnimated(clipFrames(1, pert = true)),
        14L -> mp4Copy,
        50L -> clip(50), 60L -> corrupt),
      0L, state, "asset_id", "payload", Multimodal.clipFp))
    assert(stateIds(state).distinct === Seq(1L, 50L))
    // redelivered clip id skips; batch-id replay is a marker no-op
    assert(MediaAdmission.admitBatch(batch(50L -> clip(50)), 1L, state,
      "asset_id", "payload", Multimodal.clipFp))
    assert(stateIds(state).distinct === Seq(1L, 50L))
    assert(!MediaAdmission.admitBatch(batch(99L -> clip(99)), 1L, state,
      "asset_id", "payload", Multimodal.clipFp))
    assert(stateIds(state).distinct === Seq(1L, 50L))
    // a FRESH clip arriving as MP4 admits through the same seam
    assert(MediaAdmission.admitBatch(
      batch(70L -> graft.multimodal.Mp4Codec.encodeMjpegMp4(clipFrames(70))),
      5L, state, "asset_id", "payload", Multimodal.clipFp))
    assert(stateIds(state).distinct === Seq(1L, 50L, 70L))
  }

  test("an image batch and a clip batch share admitBatch and one state table") {
    // a still is a clip with one frame: image rows (frame_no 0) and
    // clip rows land in the same (id, frame_no, fp) table, and each
    // tier's copies are judged against every committed row
    val state = tmp("mixed_admit")
    MediaAdmission.seed(spark, batch(1L -> png(1)), state,
      "asset_id", "payload", Multimodal.imageFp)
    assert(MediaAdmission.admitBatch(batch(2L -> gif(2, 3)), 0L, state,
      "asset_id", "payload", Multimodal.clipFp))
    assert(stateRows(state) === Seq(1L -> 0L, 2L -> 0L, 2L -> 1L, 2L -> 2L))
    // a resized copy of image 1 and an MJPEG-MP4 re-render of clip 2
    // are rejected; a fresh image and a fresh clip admit
    assert(MediaAdmission.admitBatch(
      batch(10L -> png(1, 1), 30L -> png(30)), 1L, state,
      "asset_id", "payload", Multimodal.imageFp))
    assert(MediaAdmission.admitBatch(
      batch(20L -> graft.multimodal.Mp4Codec.encodeMjpegMp4(
        clipFrames(2, 3)), 40L -> gif(40, 2)), 2L, state,
      "asset_id", "payload", Multimodal.clipFp))
    assert(stateRows(state) === Seq(1L -> 0L, 2L -> 0L, 2L -> 1L,
      2L -> 2L, 30L -> 0L, 40L -> 0L, 40L -> 1L))
    val fps = spark.read.parquet(s"$state/fps")
    assert(fps.columns.toSeq === Seq("id", "frame_no", "fp"))
  }

  test("dirty id columns: null/non-numeric ids drop, -1 and 2^50 read back") {
    import TestSpark.spark.implicits._
    // string id column with a null and a non-numeric value: the long
    // cast nulls them and the gate drops the rows instead of crashing
    // the Dataset decode inside a micro-batch
    val dirty = Seq(("7", png(7)), ("junk", png(8)),
        (null.asInstanceOf[String], png(9)))
      .toDF("asset_id", "payload")
    assert(MediaAdmission.fingerprints(dirty, "asset_id", "payload",
      Multimodal.imageFp).select("id").collect().map(_.getLong(0)).toSeq
      === Seq(7L))
    // any long id is an asset id as it stands: a negative and a 2^50
    // clip id are admitted with every frame and read back exactly
    val state = tmp("dirty_admit")
    MediaAdmission.seed(spark,
      batch(-1L -> gif(1, 3), (1L << 50) -> gif(2, 3), 5L -> gif(3, 3)),
      state, "asset_id", "payload", Multimodal.clipFp)
    assert(stateRows(state) ===
      Seq(-1L, 5L, 1L << 50).flatMap(id => (0L until 3L).map(id -> _)))
  }

  test("audio tier: same protocol over AudioCodec.afp") {
    val state = tmp("audio_admit")
    def wav(scene: Long, n: Int = 1600): Array[Byte] =
      AudioCodec.encodeWav16(
        AudioCodec.renderEnvelope(AudioCodec.sceneEnvelope(scene), n),
        8000, 1)
    MediaAdmission.seed(spark, batch(1L -> wav(1)), state,
      "asset_id", "payload", Multimodal.audioFp)
    // resampled rendering of scene 1 rejected; fresh scene admitted;
    // truncated WAV dropped
    assert(MediaAdmission.admitBatch(
      batch(10L -> wav(1, 2531), 20L -> wav(7),
        30L -> wav(3).take(300)),
      0L, state, "asset_id", "payload", Multimodal.audioFp))
    assert(stateIds(state) === Seq(1L, 20L))
  }
}
