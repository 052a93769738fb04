package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{AudioCodec, JpegCodec, Multimodal, PixelCodec}
import graft.streaming.MediaAdmission

/** Streamed multimodal-admission conformance — the incremental form of
  * the perceptual near-dup tier ([[MultimodalOps]]'s mm_dedup_near /
  * mm_audio_near), run through [[MediaAdmission]]'s checkpointed
  * per-batch protocol: seed the fingerprint state from an initial
  * media corpus, then deliver re-encoded / resized-or-resampled /
  * perturbed / corrupt / genuinely-fresh batches and read back the
  * admitted fingerprint table. The DuckDB oracle recomputes BOTH the
  * sequential admission truth (which assets survive the schedule) and
  * every surviving fingerprint's exact bits from the planting formula,
  * so the whole streamed path — decode gate, banded Hamming probe,
  * MergeableStream fold, replay convergence — is hash-checked, not
  * just row-counted.
  *
  * Unlike the binaryFile fixtures, deliveries here are (asset_id,
  * payload) parquet batches rendered DISTRIBUTED (one mapPartitions
  * over the schedule — no driver-side collect at any size): the
  * Kafka-ish production shape where media rides the message.
  */
object MultimodalStreamOps extends QueryModule {

  import Planting.Offset

  /** Variant codes shared by both codecs: 0 original (and fresh),
    * 1 resized/resampled, 2 re-encoded (metadata chunk), 3 perturbed
    * (≤2 fingerprint bits — a NEAR duplicate), 4 corrupt (truncated —
    * MUST drop at the decode gate), 5 (image tier only) baseline-JPEG
    * re-render of the scene — a cross-FORMAT copy the stream must
    * reject at dist 0, 6 a lossless-WebP re-render, 7 (image tier
    * only) a LOSSY WebP re-render (VP8 key frame —
    * [[graft.multimodal.Vp8Encoder]]'s exact envelope, so it too
    * lands dist 0) — rejected the same way. */
  private def imagePayloads(scenes: DataFrame): DataFrame = {
    val s = scenes.sparkSession
    import s.implicits._
    scenes.select(col("asset_id"), col("scene"), col("variant"))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (aid, scene, v) =>
        val grid = PixelCodec.sceneGrid(scene)
        val bytes = v match {
          case 0 => PixelCodec.encodeGray8Png(
            PixelCodec.renderGrid(grid, 64))
          case 1 => PixelCodec.encodeGray8Png(
            PixelCodec.renderGrid(grid, 32))
          case 2 => PixelCodec.encodeGray8Png(
            PixelCodec.renderGrid(grid, 64), filterType = 2,
            textChunk = Some("re-encoded"))
          case 3 =>
            val p = grid.clone(); p(4 * 8 + 3) = (p(4 * 8 + 3) + 16) % 256
            PixelCodec.encodeGray8Png(PixelCodec.renderGrid(p, 64))
          case 5 => JpegCodec.encodeJpeg(PixelCodec.renderGrid(grid, 64),
            color = true, ySampH = 2, ySampV = 2, restartInterval = 3)
          case 6 => graft.multimodal.WebpEncoder.encodeWebp(
            PixelCodec.renderGrid(grid, 64), salt = (scene % 7).toInt,
            color = true, crossColor = true, cacheBits = 6)
          case 7 => graft.multimodal.Vp8Encoder.encodeWebpLossy(
            PixelCodec.renderGrid(grid, 64),
            qi = if (scene % 2 == 0) 4 else 0, nParts = 2,
            skipFlags = scene % 3 == 0)
          case _ => PixelCodec.encodeGray8Png(
            PixelCodec.renderGrid(grid, 64)).take(60)
        }
        (aid, bytes)
      }).toDF("asset_id", "payload")
  }

  private def audioPayloads(scenes: DataFrame): DataFrame = {
    val s = scenes.sparkSession
    import s.implicits._
    scenes.select(col("asset_id"), col("scene"), col("variant"))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (aid, scene, v) =>
        val env = AudioCodec.sceneEnvelope(scene)
        val bytes = v match {
          case 0 => AudioCodec.encodeWav16(
            AudioCodec.renderEnvelope(env, 1600), 8000, 1)
          case 1 => AudioCodec.encodeWav16(
            AudioCodec.renderEnvelope(env, 2531), 16000, 1)
          case 2 => AudioCodec.encodeWav16(
            AudioCodec.renderEnvelope(env, 1600), 8000, 1,
            Some("re-encoded"))
          case 3 =>
            val p = env.clone(); p(37) += 512
            AudioCodec.encodeWav16(
              AudioCodec.renderEnvelope(p, 1600), 8000, 1)
          case _ => AudioCodec.encodeWav16(
            AudioCodec.renderEnvelope(env, 1600), 8000, 1).take(300)
        }
        (aid, bytes)
      }).toDF("asset_id", "payload")
  }

  /** The clip tier's payloads over the SAME schedule, with clip-level
    * variant meanings: 0 original animated clip (delta-rect encoded;
    * also the fresh family), 1 re-edit (full-canvas, interlaced,
    * different palette — every frame dist 0), 2 TRIMMED copy (frame 0
    * dropped — no variant of the whole clip matches, but every
    * surviving frame does: the clip protocol's distinctive rejection),
    * 3 perturbed (every frame ≤2 bits from its committed
    * counterpart), 4 corrupt (truncated — drops at the decode gate),
    * 5 MJPEG-MP4 re-render — the SAME frames in a true video
    * container: the cross-FORMAT copy the stream must reject at
    * dist 0 through the shared decode seam (the clip analog of the
    * image tier's baseline-JPEG copies), 6 animated-WebP re-render
    * (VP8X/ANMF sub-rect VP8L frames) — a second cross-format copy
    * rejected the same way. */
  private def clipPayloads(scenes: DataFrame): DataFrame = {
    val s = scenes.sparkSession
    import s.implicits._
    import graft.multimodal.GifCodec
    scenes.select(col("asset_id"), col("scene"), col("variant"))
      .as[(Long, Long, Int)]
      .mapPartitions(_.map { case (aid, scene, v) =>
        val f = (scene % 4).toInt + 3
        def frames(pert: Boolean = false) =
          MultimodalFrameOps.frameGrids(scene, f, pert)
        val bytes = v match {
          case 0 => GifCodec.encodeGifAnimated(frames(),
            salt = (scene % 5).toInt)
          case 1 => GifCodec.encodeGifAnimated(frames(),
            salt = (scene % 9 + 1).toInt, deltaRect = false,
            interlaced = true)
          case 2 => GifCodec.encodeGifAnimated(frames().tail, salt = 2)
          case 3 => GifCodec.encodeGifAnimated(frames(pert = true),
            salt = (scene % 5).toInt)
          case 5 => graft.multimodal.Mp4Codec.encodeMjpegMp4(frames(),
            chunkSize = 2)
          case 6 => graft.multimodal.WebpEncoder.encodeWebpAnimated(
            frames(), salt = (scene % 5).toInt)
          case _ =>
            val full = GifCodec.encodeGifAnimated(frames(), salt = 3)
            full.take(full.length / 2)
        }
        (aid, bytes)
      }).toDF("asset_id", "payload")
  }

  /** The delivery schedule (asset_id, scene, variant), shared by both
    * tiers — every 25th doc is a seeded scene, then:
    *   delivery A: %50 resized (+1·Offset) and %75 re-encoded
    *               (+2·Offset) copies of seeded scenes — plus %150
    *               cross-format re-renders (+6·Offset: baseline JPEG
    *               on the image tier, MJPEG-MP4 on the clip tier),
    *               %225 WebP re-renders (+7·Offset: lossless VP8L
    *               still / animated VP8X clip), and — image tier
    *               only — %275 LOSSY-WebP re-renders (+8·Offset: VP8
    *               key frames, bit-exact on the planted envelope so
    *               they land dist 0) — ALL rejected;
    *   delivery B: %125 perturbed (+4·Offset, within maxDist) —
    *               rejected; %100 FRESH scenes (+3·Offset asset AND
    *               scene id — a scene space never seeded) — admitted;
    *               %175 corrupt (+5·Offset) — dropped at decode;
    *   delivery A again: replay — converges with zero state change.
    * Expected admitted set = seeds ∪ the %100 fresh family. */
  private def sched(docs: DataFrame, mod: Int, idOff: Long,
      sceneOff: Long, v: Int): DataFrame =
    docs.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + idOff).as("asset_id"),
        (col("doc_id") + sceneOff).as("scene"),
        lit(v).as("variant"))

  /** Delivery A's cross-format re-render families, (mod, variant):
    * %150 variant 5, %225 variant 6, %275 variant 7, each at
    * asset id + (variant + 1)·Offset. A tier delivers the first
    * `crossFormat` of them — the ones its payloads render. */
  private val CrossFormat = Seq((150, 5), (225, 6), (275, 7))

  /** Run seed + 3 checkpointed deliveries once per (session, dir,
    * tier) through [[MediaAdmission]]; returns the state path. */
  private def streamedState(s: SparkSession, d: String, tag: String,
      payloads: DataFrame => DataFrame,
      fingerprint: Array[Byte] => Seq[Long],
      crossFormat: Int): String =
    Fixture.dir(s, d, tag) { base =>
      val (src, cp, state) = (s"$base/src", s"$base/cp", s"$base/state")
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", tag)
      val scenes = docs.filter(col("doc_id") % 25 === 0)
        .select("doc_id")
      val seed = sched(scenes, 25, 0, 0, 0)
      // cross-format copies (baseline JPEG / MJPEG-MP4, WebP, lossy
      // WebP) are rejected at dist 0 — absent from the admitted-set
      // oracles by construction
      val incA = CrossFormat.take(crossFormat).foldLeft(
          sched(scenes, 50, Offset, 0, 1)
            .unionByName(sched(scenes, 75, 2 * Offset, 0, 2))) {
        case (inc, (mod, v)) =>
          inc.unionByName(sched(scenes, mod, (v + 1) * Offset, 0, v))
      }
      val incB = sched(scenes, 125, 4 * Offset, 0, 3)
        .unionByName(sched(scenes, 100, 3 * Offset, 3 * Offset, 0))
        .unionByName(sched(scenes, 175, 5 * Offset, 0, 4))
      def deliver(inc: DataFrame): Unit = {
        payloads(inc).coalesce(1).write.mode("append").parquet(src)
        val stream = s.readStream
          .schema("asset_id LONG, payload BINARY").parquet(src)
        Fixture.await(MediaAdmission.start(stream, state, cp,
          "asset_id", "payload", fingerprint), tag)
      }
      // 8 shuffle partitions for the state rewrites: the file-derived
      // count (ScopedConf.streamPartitions) gives 1 here and measured
      // slower at sf1 (mm_audio_stream_admit_build, median of 3:
      // 4.8 → 5.5 s), so this dial stays a literal
      ScopedConf.withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        MediaAdmission.seed(s, payloads(seed), state,
          "asset_id", "payload", fingerprint)
        deliver(incA)
        deliver(incB)
        deliver(incA)   // replay: must converge with zero changes
      }
      state
    }

  private def imageState(s: SparkSession, d: String): String =
    streamedState(s, d, "mm_stream_admit", imagePayloads,
      Multimodal.imageFp, crossFormat = 3)

  private def audioState(s: SparkSession, d: String): String =
    streamedState(s, d, "mm_audio_stream_admit", audioPayloads,
      Multimodal.audioFp, crossFormat = 0)

  private def clipState(s: SparkSession, d: String): String =
    streamedState(s, d, "mm_frame_stream_admit", clipPayloads,
      Multimodal.clipFp, crossFormat = 2)

  // Admitted fingerprint state after the full streamed run, surfaced
  // LSB-first as a bit string (same comparator rationale as mm_phash).
  private def admitted(s: SparkSession, state: String,
      bitsName: String): DataFrame =
    s.read.parquet(s"$state/fps")
      .select(col("id").as("asset_id"),
        reverse(lpad(bin(col("fp")), 64, "0")).as(bitsName))
      .orderBy("asset_id")

  private def mmStreamAdmit(s: SparkSession, d: String): DataFrame =
    admitted(s, imageState(s, d), "phash_bits")

  private def mmAudioStreamAdmit(s: SparkSession, d: String): DataFrame =
    admitted(s, audioState(s, d), "afp_bits")

  // Admitted CLIP frame state after the full streamed run: one row per
  // (clip, frame ordinal), hashes surface LSB-first.
  private def mmFrameStreamAdmit(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${clipState(s, d)}/fps")
      .select(col("id").as("asset_id"), col("frame_no"),
        reverse(lpad(bin(col("fp")), 64, "0")).as("phash_bits"))
      .orderBy("asset_id", "frame_no")

  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "mm_stream_admit_build" ->
        ((s, d) => { imageState(s, d); () }),
      "mm_audio_stream_admit_build" ->
        ((s, d) => { audioState(s, d); () }),
      "mm_frame_stream_admit_build" ->
        ((s, d) => { clipState(s, d); () }))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_stream_admit"       -> (mmStreamAdmit _),
    "mm_audio_stream_admit" -> (mmAudioStreamAdmit _),
    "mm_frame_stream_admit" -> (mmFrameStreamAdmit _))

  /** Admitted assets fall straight out of the schedule — seeds plus
    * the %100 fresh family; every variant of a seeded scene lands
    * within maxDist of its committed fingerprint (dist 0 for
    * resize/re-encode, ≤2 for perturbed) and is rejected, the corrupt
    * family drops at decode, and the replayed delivery is a no-op.
    * The fingerprint tails then pin every surviving hash's exact bits. */
  val oracles: Map[String, String] = Map(
    "mm_stream_admit" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
          assets AS (
            SELECT doc_id AS asset_id, doc_id AS scene, FALSE AS pert
            FROM d
            UNION ALL
            SELECT doc_id + 300000, doc_id + 300000, FALSE
            FROM d WHERE doc_id % 100 = 0),
          ${MultimodalOps.phashBitsTail}""",

    "mm_audio_stream_admit" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
          assets AS (
            SELECT doc_id AS asset_id, doc_id AS scene, FALSE AS pert
            FROM d
            UNION ALL
            SELECT doc_id + 300000, doc_id + 300000, FALSE
            FROM d WHERE doc_id % 100 = 0),
          ${MultimodalAudioOps.afpBitsTail}""",

    // admitted clips = seeds + the %100 fresh family; the re-edit
    // (every frame dist 0), TRIMMED (surviving frames dist 0 — the
    // clip protocol's distinctive case), and perturbed (every frame
    // ≤2 bits) deliveries are rejected, the corrupt family drops at
    // decode, and the replay is a no-op. The state then holds EVERY
    // frame of every admitted clip; the frame-evolution tail pins each
    // frame's exact bits.
    "mm_frame_stream_admit" ->
      s"""WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
          clips AS (
            SELECT doc_id AS asset_id, doc_id AS scene,
                   (doc_id % 4) + 3 AS f FROM d
            UNION ALL
            SELECT doc_id + 300000, doc_id + 300000,
                   ((doc_id + 300000) % 4) + 3
            FROM d WHERE doc_id % 100 = 0),
          samp AS (
            SELECT c.asset_id, c.scene, CAST(j.j AS BIGINT) AS frame_no
            FROM clips c, range(6) j(j) WHERE j.j < c.f),
          g AS (
            SELECT s.asset_id, s.frame_no, t1.gx, t2.gy,
                   ${MultimodalFrameOps.frameLumaSql("s.scene",
                     "s.frame_no", "t1.gx", "t2.gy")} AS luma
            FROM samp s, range(8) t1(gx), range(8) t2(gy)),
          bits AS (
            SELECT g1.asset_id, g1.frame_no, g1.gx, g1.gy,
                   CASE WHEN g2.luma > g1.luma THEN '1' ELSE '0' END AS bit
            FROM g g1 JOIN g g2 ON g1.asset_id = g2.asset_id
             AND g1.frame_no = g2.frame_no
             AND g2.gy = g1.gy AND g2.gx = (g1.gx + 1) % 8)
          SELECT asset_id, frame_no,
                 string_agg(bit, '' ORDER BY gy, gx) AS phash_bits
          FROM bits GROUP BY asset_id, frame_no
          ORDER BY asset_id, frame_no""")
}
