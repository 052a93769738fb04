package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star surface): image/audio/video
  * as opaque binary columns with typed metadata, processed in batches
  * via `mapPartitions` (the Scala analog of `mapInPandas` — one decoder
  * instantiation per partition, streamed row batches).
  *
  * Image metadata decode is REAL: [[HeaderDecoder]] parses PNG IHDR,
  * JPEG SOF, and GIF logical-screen headers with pure byte arithmetic —
  * no codec library. Full pixel/audio/video decode stays behind the
  * same [[MediaDecoder]] seam ([[StubDecoder]] derives deterministic
  * fake dimensions; this container has no codec libraries): swapping in
  * a JNI/FFmpeg decoder changes only [[MediaDecoder.decode]].
  */
object Multimodal {

  /** An opaque media asset: payload + typed metadata. */
  case class MediaAsset(asset_id: Long, media_type: String, payload: Array[Byte])

  /** Decoded metadata (what a real image/video decoder would emit). */
  case class DecodedMeta(asset_id: Long, media_type: String, n_bytes: Int,
      width: Int, height: Int, n_frames: Int, n_sampled_frames: Int)

  /** The decoder seam. A production implementation wraps a native
    * library; the stub is pure arithmetic on the payload length. */
  trait MediaDecoder extends Serializable {
    def decode(a: MediaAsset): DecodedMeta
  }

  /** Deterministic fake: dimensions derived from byte length; frame
    * sampling keeps every 5th frame (the real pipeline's stride). */
  object StubDecoder extends MediaDecoder {
    def decode(a: MediaAsset): DecodedMeta = {
      val n = a.payload.length
      val w = n % 640 + 1
      val h = (n * 7) % 480 + 1
      val frames = if (a.media_type == "video") n % 30 + 1 else 1
      DecodedMeta(a.asset_id, a.media_type, n, w, h, frames,
        (frames + 4) / 5)
    }
  }

  /** Real image-header metadata decode: pure byte arithmetic over the
    * payload's leading bytes, no codec library.
    *   - PNG: 8-byte signature, then the IHDR chunk (REQUIRED first by
    *     the PNG spec) — width/height are the two big-endian u32s at
    *     offsets 16 and 20.
    *   - JPEG: walk the marker segments from SOI until a frame header
    *     (SOF0–SOF15, minus the non-frame C4/C8/CC); height/width are
    *     the big-endian u16s after the segment's precision byte.
    *   - GIF: "GIF87a"/"GIF89a", then the logical screen's
    *     little-endian u16 width/height at offsets 6 and 8.
    * Unrecognized payloads (the fake video/audio blobs, truncated or
    * corrupt headers) fall back to [[StubDecoder]]'s deterministic
    * arithmetic — the real-codec seam stays open, and decode never
    * throws on hostile bytes. */
  object HeaderDecoder extends MediaDecoder {
    import Bytes.{be16, be32, le16, u8}

    private val PngSig =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** (width, height) from a PNG IHDR, or None if not a PNG. */
    def pngDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 && b.take(8).sameElements(PngSig) &&
          b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some((be32(b, 16).toInt, be32(b, 20).toInt))
      else None

    /** (width, height) from the first JPEG frame header (SOF), walking
      * marker segments; None if not a JPEG or no SOF before SOS/EOI. */
    def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
      var p = 2
      while (p + 3 < b.length && u8(b, p) == 0xff) {
        val m = u8(b, p + 1)
        if (m == 0xff) { p += 1 }                       // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { p += 2 } // standalone
        else if (m == 0xd9 || m == 0xda) return None    // EOI / entropy data
        else {
          val len = be16(b, p + 2)
          if (len < 2) return None
          val isSof = m >= 0xc0 && m <= 0xcf &&
            m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) {
            if (p + 8 >= b.length) return None
            return Some((be16(b, p + 7), be16(b, p + 5)))
          }
          p += 2 + len
        }
      }
      None
    }

    /** (width, height) from a GIF logical screen descriptor. */
    def gifDims(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some((le16(b, 6), le16(b, 8)))
      else None

    def imageDims(b: Array[Byte]): Option[(Int, Int)] =
      pngDims(b).orElse(jpegDims(b)).orElse(gifDims(b))

    def decode(a: MediaAsset): DecodedMeta = imageDims(a.payload) match {
      case Some((w, h)) =>
        DecodedMeta(a.asset_id, a.media_type, a.payload.length, w, h, 1, 1)
      case None => StubDecoder.decode(a)
    }
  }

  /** Decoded audio/video container metadata (the header-level facts a
    * training pipeline filters on before any expensive decode: duration
    * gates, sample-rate buckets, channel layout). */
  case class AvMeta(asset_id: Long, media_type: String, n_bytes: Int,
      sample_rate: Int, channels: Int, duration_ms: Long)

  /** Real audio/video CONTAINER header decode — same discipline as
    * [[HeaderDecoder]]: pure byte arithmetic over leading bytes, no
    * codec library, never throws on hostile input.
    *   - WAV: "RIFF"+"WAVE", then a chunk walk (id u32 + LE u32 size,
    *     word-aligned) to "fmt " (channels LE u16 @+2, sample rate
    *     LE u32 @+4, byte rate LE u32 @+8) and "data" (payload size);
    *     duration_ms = data_size · 1000 / byte_rate (integer).
    *   - MP4 (ISO-BMFF): top-level box walk (BE u32 size + fourcc) to
    *     `moov`, child walk to `mvhd`; version-0 header carries
    *     timescale (BE u32 @ payload+12) and duration in ticks
    *     (BE u32 @ payload+16); duration_ms = ticks · 1000 / timescale.
    * Unrecognized payloads fall back to deterministic arithmetic on the
    * byte length (the open real-codec seam, same as [[StubDecoder]]). */
  object AvHeaderDecoder extends Serializable {
    import Bytes.{be32, fourcc, le16, le32, u8}

    /** (sample_rate, channels, duration_ms) from a RIFF/WAVE header. */
    def wavMeta(b: Array[Byte]): Option[(Int, Int, Long)] = {
      if (b.length < 12 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "WAVE")
        return None
      var p = 12
      var fmt: Option[(Int, Int, Long)] = None // (rate, channels, byteRate)
      var dataLen: Option[Long] = None
      while (p + 8 <= b.length && (fmt.isEmpty || dataLen.isEmpty)) {
        val id = fourcc(b, p)
        val sz = le32(b, p + 4)
        if (sz < 0 || sz > Int.MaxValue - 16) return None
        // fmt payload: format u16, channels u16 @+2, sample rate
        // u32 @+4, byte rate u32 @+8
        if (id == "fmt " && sz >= 16 && p + 8 + 16 <= b.length)
          fmt = Some((le32(b, p + 12).toInt, le16(b, p + 10), le32(b, p + 16)))
        else if (id == "data") dataLen = Some(sz)
        p += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
      }
      for {
        (rate, ch, byteRate) <- fmt
        d <- dataLen
        if byteRate > 0
      } yield (rate, ch, d * 1000L / byteRate)
    }

    /** (duration_ms) from an MP4 `moov/mvhd` (version 0). */
    def mp4DurationMs(b: Array[Byte]): Option[Long] = {
      def walk(from: Int, until: Int, target: String): Option[Int] = {
        var p = from
        while (p + 8 <= until) {
          val sz = be32(b, p)
          if (fourcc(b, p + 4) == target) return Some(p)
          // a declared size running past the buffer (or under the box
          // header) ends the walk — truncated or hostile input
          if (sz < 8 || p.toLong + sz > until) return None
          p += sz.toInt
        }
        None
      }
      if (b.length < 8) return None
      for {
        moov <- walk(0, b.length, "moov")
        moovEnd = math.min(b.length.toLong, moov + be32(b, moov)).toInt
        mvhd <- walk(moov + 8, moovEnd, "mvhd")
        if mvhd + 24 <= b.length && u8(b, mvhd + 8) == 0 // version 0
        timescale = be32(b, mvhd + 20)
        if timescale > 0
      } yield be32(b, mvhd + 24) * 1000L / timescale
    }

    def decode(a: MediaAsset): AvMeta = {
      val n = a.payload.length
      wavMeta(a.payload) match {
        case Some((rate, ch, dur)) =>
          AvMeta(a.asset_id, a.media_type, n, rate, ch, dur)
        case None => mp4DurationMs(a.payload) match {
          case Some(dur) => AvMeta(a.asset_id, a.media_type, n, 0, 0, dur)
          case None => // deterministic fallback — the real-codec seam
            AvMeta(a.asset_id, a.media_type, n, 0, 0, n.toLong % 60000)
        }
      }
    }
  }

  /** Batch AV decode — one decoder instantiation point per partition,
    * same shape as [[decodeMeta]]. */
  def decodeAv(assets: Dataset[MediaAsset]): Dataset[AvMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val d = AvHeaderDecoder
      it.map(d.decode)
    }
  }

  /** Header ENCODERS — the write side of [[HeaderDecoder]], used by
    * fixture planting and specs to craft real image headers with known
    * dimensions (the payload after the header is arbitrary bytes; the
    * metadata tier never reads past the header). */
  object MediaHeaders {
    import Bytes.{be16b, be32b, le16b, le32b}
    import Mp4Codec.box

    /** Valid 33-byte PNG prefix: signature + IHDR (8-bit RGB,
      * deflate/adaptive/no-interlace) with a correct CRC32. */
    def png(width: Int, height: Int): Array[Byte] = {
      val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte)
      val typeAndData = "IHDR".getBytes("US-ASCII") ++
        be32b(width) ++ be32b(height) ++
        Array[Byte](8, 2, 0, 0, 0)
      val crc = new java.util.zip.CRC32
      crc.update(typeAndData)
      sig ++ be32b(13) ++ typeAndData ++ be32b(crc.getValue.toInt)
    }

    /** Valid 39-byte JPEG prefix: SOI + JFIF APP0 + SOF0 (8-bit,
      * 3 components, 4:2:0). */
    def jpeg(width: Int, height: Int): Array[Byte] = {
      val soi = Array(0xff, 0xd8).map(_.toByte)
      val app0 = Array(0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++
        "JFIF".getBytes("US-ASCII") ++
        Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
      val sof0 = Array(0xff, 0xc0, 0x00, 0x11, 0x08).map(_.toByte) ++
        be16b(height) ++ be16b(width) ++
        Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
      soi ++ app0 ++ sof0
    }

    /** 13-byte GIF89a prefix: signature + logical screen descriptor. */
    def gif(width: Int, height: Int): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++
        le16b(width) ++ le16b(height) ++ Array[Byte](0, 0, 0)

    /** Canonical 44-byte PCM WAV header declaring `dataLen` bytes of
      * 16-bit samples (the tail after the header plays the samples'
      * role; the metadata tier never reads past the declared sizes). */
    def wav(sampleRate: Int, channels: Int, dataLen: Int): Array[Byte] = {
      val blockAlign = channels * 2
      val byteRate = sampleRate * blockAlign
      "RIFF".getBytes("US-ASCII") ++ le32b(36 + dataLen) ++
        "WAVEfmt ".getBytes("US-ASCII") ++ le32b(16) ++
        le16b(1) ++ le16b(channels) ++ le32b(sampleRate) ++
        le32b(byteRate) ++ le16b(blockAlign) ++ le16b(16) ++
        "data".getBytes("US-ASCII") ++ le32b(dataLen)
    }

    /** Minimal valid MP4 prefix: `ftyp` (isom) + `moov` holding a
      * version-0 `mvhd` with the given timescale and tick duration —
      * 132 bytes total. */
    def mp4(timescale: Int, durationTicks: Int): Array[Byte] = {
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++ be32b(0))
      val mvhdPayload =
        be32b(0) ++                     // version 0 + flags
        be32b(0) ++ be32b(0) ++         // creation / modification
        be32b(timescale) ++ be32b(durationTicks) ++
        be32b(0x00010000) ++            // rate 1.0
        Array[Byte](0x01, 0x00, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++ // volume u16 + 10 reserved
        (be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++
         be32b(0) ++ be32b(0x00010000) ++ be32b(0) ++
         be32b(0) ++ be32b(0) ++ be32b(0x40000000)) ++ // unity matrix
        Array.fill[Byte](24)(0) ++      // pre_defined
        be32b(2)                        // next_track_ID
      ftyp ++ box("moov", box("mvhd", mvhdPayload))
    }

    /** Header sizes, mirrored by the DuckDB oracles (n_bytes = header
      * size + payload tail length). */
    val PngHeaderLen = 33
    val JpegHeaderLen = 39
    val WavHeaderLen = 44
    val Mp4HeaderLen = 132
  }

  /** Batch decode: one decoder per partition (the expensive init a real
    * codec needs happens once per partition, not per row). */
  def decodeMeta(assets: Dataset[MediaAsset],
      decoder: MediaDecoder = HeaderDecoder): Dataset[DecodedMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val d = decoder // per-partition init point
      it.map(d.decode)
    }
  }

  /** Build a MediaAsset dataset from any (id, text) source by encoding
    * the text as a binary payload — the offline stand-in for reading
    * real image bytes (binaryFile source in production). */
  def assetsFromText(df: DataFrame, idCol: String, textCol: String)
      (implicit s: SparkSession): Dataset[MediaAsset] = {
    import s.implicits._
    df.select(
        col(idCol).cast("long").as("asset_id"),
        when(col(idCol) % 3 === 0, lit("video"))
          .when(col(idCol) % 3 === 1, lit("image"))
          .otherwise(lit("audio")).as("media_type"),
        encode(col(textCol), "UTF-8").as("payload"))
      .as[MediaAsset]
  }

  /** File extension ↔ media type for [[ingestBinary]]'s path parsing
    * (the reference analog: opaque API blobs typed by endpoint,
    * backfill_user_profiles.py:144-153). */
  val ExtToType: Map[String, String] =
    Map("mp4" -> "video", "img" -> "image", "wav" -> "audio",
      "png" -> "image", "jpg" -> "image", "gif" -> "image",
      "bmp" -> "image", "flac" -> "audio", "avi" -> "video",
      "aif" -> "audio", "tif" -> "image", "webp" -> "image",
      "mp3" -> "audio", "ogg" -> "audio", "opus" -> "audio",
      "m4a" -> "audio", "aac" -> "audio", "webm" -> "video",
      "mkv" -> "video", "weba" -> "audio", "ts" -> "video",
      "avif" -> "image", "heic" -> "image", "oga" -> "audio",
      "m2ts" -> "video")

  /** REAL binary ingestion: `spark.read.format("binaryFile")` over a
    * directory of media blobs named `asset_<id>.<ext>`. This is the
    * production source side of the tier — each file is an opaque
    * payload; id and type come from the path, not the bytes, so no
    * decode happens at scan time. Scale: binaryFile assigns whole
    * files to partitions (a blob never splits), so partition count
    * tracks file count; set `maxPartitionBytes`/use a manifest compact
    * step for many-small-files corpora. Files with names outside the
    * convention are dropped (null id — the explicit filter). */
  def ingestBinary(spark: SparkSession, dir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    val typeExpr = ExtToType.foldLeft(lit(null).cast("string")) {
      case (acc, (ext, t)) => when(col("__ext") === ext, lit(t))
        .otherwise(acc)
    }
    spark.read.format("binaryFile").load(dir)
      .select(
        regexp_extract(col("path"), "asset_(\\d+)\\.([a-z0-9]+)$", 1)
          .as("__id"),
        regexp_extract(col("path"), "asset_(\\d+)\\.([a-z0-9]+)$", 2)
          .as("__ext"),
        col("content").as("payload"))
      .filter(col("__id") =!= "")
      .select(col("__id").cast("long").as("asset_id"),
        typeExpr.as("media_type"), col("payload"))
      // a >19-digit id matches the regex but overflows the long cast
      // to NULL — drop it with the other nonconforming names instead
      // of surfacing a null primitive in Dataset[MediaAsset]
      .filter(col("media_type").isNotNull && col("asset_id").isNotNull)
      .as[MediaAsset]
  }

  /** The one media fingerprint form: (asset_id, frame_no, fp) rows out
    * of one distributed decode projection over (asset_id, payload) rows
    * (one decoder init point per partition, like [[decodeMeta]]).
    * `payload` maps an asset's bytes to its 64-bit fingerprints in frame
    * order: one for a still image or an audio stream ([[imageFp]],
    * [[audioFp]] — frame_no 0), one per fingerprinted frame for a clip
    * ([[clipFp]]). An undecodable payload yields none and drops at this
    * gate, never throws. Scale: one projection pass over the payload
    * column; the output is 24 bytes per frame, so everything downstream
    * shuffles fingerprints, never media bytes. */
  def fingerprints(assets: Dataset[_],
      payload: Array[Byte] => Seq[Long]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.select(col("asset_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(FrameRows(payload))
      .toDF("asset_id", "frame_no", "fp")
  }

  /** [[fingerprints]]' per-partition body. A case class, not a closure:
    * two projections of one corpus with the same `payload` plan equal,
    * so the one [[nearDupPairs]] pinned serves every later plan over
    * that corpus and codec instead of decoding it again. */
  private final case class FrameRows(payload: Array[Byte] => Seq[Long])
      extends (Iterator[(Long, Array[Byte])] => Iterator[(Long, Long, Long)]) {
    def apply(it: Iterator[(Long, Array[Byte])])
        : Iterator[(Long, Long, Long)] =
      it.flatMap { case (id, p) =>
        Option(p).iterator.flatMap(payload(_).iterator.zipWithIndex
          .map { case (fp, i) => (id, i.toLong, fp) })
      }
  }

  /** An image's fingerprint: its 8×8-luma dHash ([[PixelCodec.phash]]:
    * PNG/BMP/JPEG/GIF/TIFF/WebP pixel decode, dimensions ≥ 8). */
  val imageFp: Array[Byte] => Seq[Long] = PixelCodec.phash(_).toSeq

  /** An audio stream's fingerprint: the 64-bin energy-envelope gradient
    * ([[AudioCodec.afp]]: PCM decode, ≥ 64 samples). */
  val audioFp: Array[Byte] => Seq[Long] = AudioCodec.afp(_).toSeq

  /** A clip's fingerprints: one dHash per decoded frame
    * ([[decodeClipFrames]]), in frame order; frames under 8×8 are
    * skipped, so frame_no numbers the fingerprinted frames. */
  val clipFp: Array[Byte] => Seq[Long] = b =>
    decodeClipFrames(b).toSeq.flatten
      .flatMap(fr => PixelCodec.lumaGrid8(fr).map(PixelCodec.dhash64))

  /** Near-duplicate asset pairs (id1 < id2): assets sharing at least one
    * fingerprint within Hamming `maxDist` — the
    * [[graft.dedup.Dedup.simhashPairs]] banded pairing at 64 bits / 8
    * bands (EXACT for maxDist < 8 by pigeonhole; work scales with band
    * collisions, never corpus² or frames²) over [[fingerprints]] rows
    * keyed by asset_id. Same-asset frame pairs fall to its id1 < id2
    * filter and the `distinct` collapses frame pairs into asset pairs,
    * so a still image and a re-edited or trimmed clip pair the same
    * way. `fps` is pinned first: the pairing reads it on both sides of
    * the band self-join, and a caller that reuses it (curation's
    * keep-best join) reads the same cache instead of decoding again. */
  def nearDupPairs(fps: DataFrame, maxDist: Int = 2): DataFrame =
    graft.dedup.Dedup.simhashPairs(
        graft.CacheScope.track(fps)
          .select(col("asset_id").as("id"), col("fp").as("simhash")),
        maxDist, bits = 64, bands = 8)
      .select("id1", "id2").distinct()

  /** Component labels over [[nearDupPairs]]: (id, cluster_id = min
    * reachable asset) for every asset in at least one pair; singletons
    * are absent (their label is themselves). */
  def nearDupLabels(fps: DataFrame, maxDist: Int = 2): DataFrame =
    graft.dedup.Dedup.connectedComponents(nearDupPairs(fps, maxDist))

  /** Near-duplicate clusters (canonical_id = min member, n_members,
    * member_ids) over [[nearDupLabels]]. Catches what
    * [[dedupExactMedia]] cannot: re-encoded, resized, format-converted,
    * resampled, channel-converted and gain-scaled copies, and
    * re-edited or trimmed clips, whose bytes share nothing but whose
    * pixels or energy envelope do. */
  def nearDupClusters(fps: DataFrame, maxDist: Int = 2): DataFrame =
    nearDupLabels(fps, maxDist)
      .groupBy(col("cluster_id").as("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        array_join(sort_array(collect_list(col("id")))
          .cast("array<string>"), ",").as("member_ids"))

  /** Animated-clip frame decode across the supported containers:
    * GIF (still/interlaced/animated — [[GifCodec.decodeGifFrames]]),
    * MJPEG-in-MP4 ([[Mp4Codec.decodeMjpegFrames]] — the `stbl`
    * sample-table walk feeding per-sample JPEG decode), MJPEG AVI
    * ([[AviCodec.decodeMjpegFrames]] — the RIFF `movi` chunk walk,
    * `rec ` grouping included), and animated WebP
    * ([[WebpCodec.decodeWebpFrames]] — VP8X/ANIM/ANMF sub-rect
    * compositing over lossless VP8L frames). ONE seam for the whole
    * frame tier:
    * sampling, dense hashing, and streamed clip admission all decode
    * through here, so a new container lands in every path at once. */
  private[graft] def decodeClipFrames(b: Array[Byte])
      : Option[Seq[PixelCodec.Gray]] =
    GifCodec.decodeGifFrames(b).orElse(Mp4Codec.decodeMjpegFrames(b))
      .orElse(AviCodec.decodeMjpegFrames(b))
      .orElse(WebpCodec.decodeWebpFrames(b))

  /** Uniform frame sampling over animated media — the multimodal
    * "frame-sample" primitive: decode a clip's frames
    * ([[decodeClipFrames]] — GIF or MJPEG-MP4 behind one
    * payload→frames seam),
    * keep min(k, F) frames at the bin rule `frame_no = j·F/n`, and
    * emit one 64-bit dHash per KEPT frame. Sampling happens INSIDE the
    * decode projection, so unsampled frames never leave their
    * partition and the output is ≤ k·16 bytes per clip — downstream
    * shuffles frame hashes, never media bytes. Undecodable payloads
    * (truncated streams, missing color tables, malformed LZW) drop at
    * the gate; interlaced frames decode through the 4-pass walker. */
  def sampleFrames(assets: Dataset[MediaAsset], k: Int = 3): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        decodeClipFrames(a.payload).iterator.flatMap { frames =>
          val f = frames.length
          val n = math.min(k, f)
          (0 until n).iterator.flatMap { j =>
            val fno = j * f / n
            PixelCodec.lumaGrid8(frames(fno)).map(g =>
              (a.asset_id, f.toLong, fno.toLong, PixelCodec.dhash64(g)))
          }
        }
      }
    }.toDF("asset_id", "n_frames", "frame_no", "phash")
  }

  /** The AVC (H.264) digest tier over a media corpus — the documented
    * no-pixel-decode contract of [[Mp4Codec.decodeAvcDigest]]: one
    * distributed projection extracts per-clip metadata + the ordered
    * sample content digests, reduced to a 32-char clip fingerprint.
    * Non-AVC or malformed payloads drop at the gate. Scale: the
    * output is ~50 bytes/clip, so exact-dedup grouping downstream
    * shuffles fingerprints, never video bytes — the same
    * projection-first discipline as [[fingerprints]]. */
  def avcClipDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Mp4Codec.decodeAvcDigest(a.payload).map { c =>
          (a.asset_id, c.sampleDigests.length.toLong,
            c.profile.toLong, c.level.toLong, c.fingerprint)
        }
      }
    }.toDF("asset_id", "n_samples", "profile_idc", "level_idc",
      "clip_fp")
  }

  /** The AVIF/HEIC digest tier over a media corpus — the documented
    * no-pixel-decode contract of [[AvifCodec.decodeAvifDigest]]: one
    * distributed projection walks the HEIF item grammar (meta/pitm/
    * iinf/iloc/iprp) and reduces each still to codec + ispe
    * dimensions + the primary item's coded-payload md5, so RE-BOXED
    * copies — the canonical packager duplicate (idat vs mdat
    * carriage, extent splits, iloc versions) — collapse in exact
    * dedup without an AV1/HEVC decoder. Non-HEIF or malformed
    * payloads drop at the gate. Scale: ~60 bytes/item out; dedup
    * groups fingerprints, never image bytes. */
  def avifItemDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        AvifCodec.decodeAvifDigest(a.payload).map { c =>
          (a.asset_id, c.codec, c.width.toLong, c.height.toLong,
            c.itemFp)
        }
      }
    }.toDF("asset_id", "codec", "width", "height", "item_fp")
  }

  /** The MPEG-TS digest tier over a media corpus — the documented
    * no-transform-decode contract of [[TsCodec.decodeTsDigest]]: one
    * distributed projection walks the 188-byte packet grammar
    * (PAT→PMT→PES, PSI CRC-verified, continuity counters enforced)
    * and reduces each HLS-shaped segment to PMT metadata + per-
    * access-unit content digests whose fingerprint formula is SHARED
    * with [[Mp4Codec.AvcClip]] — so a TS↔MP4 re-mux of the same AVC
    * units collapses CROSS-CONTAINER in exact dedup. Non-TS or
    * malformed payloads drop at the gate. Scale: ~60 bytes/stream
    * out; dedup groups fingerprints, never video bytes. */
  def tsClipDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        TsCodec.decodeTsDigest(a.payload).map { c =>
          (a.asset_id, c.codec, c.sampleDigests.length.toLong,
            c.profile.toLong, c.level.toLong, c.fingerprint)
        }
      }
    }.toDF("asset_id", "codec", "n_samples", "profile_idc",
      "level_idc", "clip_fp")
  }

  /** The MP3 digest tier over a media corpus — the documented
    * no-PCM-synthesis contract of [[Mp3Codec.decodeMp3Digest]]: one
    * distributed projection walks the frame grammar (ID3 tags
    * excluded from content by construction) and reduces each stream
    * to metadata + a fingerprint, so RE-TAGGED copies — the canonical
    * crawl MP3 duplicate — collapse in exact dedup without an audio
    * decoder. Non-MP3 or malformed payloads drop at the gate. Scale:
    * ~60 bytes/stream out; dedup groups fingerprints, never audio
    * bytes. */
  def mp3StreamDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        Mp3Codec.decodeMp3Digest(a.payload).map { s =>
          (a.asset_id, s.frameDigests.length.toLong,
            s.sampleRate.toLong, s.kbps.toLong, s.channels.toLong,
            s.fingerprint)
        }
      }
    }.toDF("asset_id", "n_frames", "sample_rate", "kbps", "channels",
      "audio_fp")
  }

  /** The Ogg (Vorbis/Opus) digest tier over a media corpus — the
    * documented no-PCM-synthesis contract of
    * [[OggCodec.decodeOggDigest]]: CRC-verified page walk, per-serial
    * demux of grouped files, packet reassembly, ident-header
    * metadata, per-packet content digests. Pages are framing and
    * excluded from content, so RE-PAGINATED and RE-MUXED-beside-a-
    * sibling-stream copies — the canonical Ogg duplicates — collapse
    * in exact dedup without an audio decoder. The `codec` column
    * ("vorbis"/"opus") keys the downstream tier split. Same
    * projection-first scale posture as the MP3/AVC digest tiers. */
  def oggStreamDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        OggCodec.decodeOggDigest(a.payload).map { s =>
          (a.asset_id, s.codec, s.packetDigests.length.toLong,
            s.sampleRate.toLong, s.channels.toLong, s.fingerprint)
        }
      }
    }.toDF("asset_id", "codec", "n_packets", "sample_rate", "channels",
      "audio_fp")
  }

  /** The WebM/Matroska digest tier over a media corpus — the
    * documented no-pixel-decode contract of
    * [[WebmCodec.decodeWebmDigest]]: one distributed projection walks
    * the EBML grammar (DocType, Tracks, every Cluster's blocks) and
    * digests the selected track's frame payloads, so RE-CLUSTERED and
    * RE-GROUPED copies — the canonical WebM duplicates — collapse in
    * exact dedup without a VP8/VP9 decoder. Same projection-first
    * scale posture as the other digest tiers: ~60 bytes/stream out,
    * video bytes never shuffle. */
  def webmClipDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        WebmCodec.decodeWebmDigest(a.payload).map { s =>
          (a.asset_id, s.codecId, s.frameDigests.length.toLong,
            s.width.toLong, s.height.toLong, s.fingerprint)
        }
      }
    }.toDF("asset_id", "codec_id", "n_blocks", "width", "height",
      "clip_fp")
  }

  /** The AAC digest tier over a media corpus — the documented
    * no-PCM-synthesis contract of [[AacCodec.decodeM4aDigest]] /
    * [[AacCodec.decodeAdtsDigest]]: one distributed projection walks
    * either container form (M4A sample tables or ADTS frame tiling)
    * down to the SAME raw access units and digests them, so a `.aac`
    * re-wrap of a `.m4a` — the dominant cross-container audio
    * duplicate — collapses in exact dedup without an AAC decoder.
    * Same projection-first scale posture as the other digest tiers:
    * ~60 bytes/stream out, audio bytes never shuffle. */
  def aacStreamDigests(assets: Dataset[MediaAsset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        AacCodec.decodeM4aDigest(a.payload)
          .orElse(AacCodec.decodeAdtsDigest(a.payload)).map { t =>
            (a.asset_id, t.sampleDigests.length.toLong,
              t.sampleRate.toLong, t.channels.toLong, t.fingerprint)
          }
      }
    }.toDF("asset_id", "n_samples", "sample_rate", "channels",
      "audio_fp")
  }

  /** Exact media dedup by payload identity: group on (xxhash64, bytes)
    * — the hash co-locates candidates cheaply (8-byte shuffle key next
    * to megabyte payloads), the byte-equality grouping makes the
    * result collision-proof. Returns one row per distinct payload:
    * (canonical_id = min member, n_bytes, n_copies, member_ids). At
    * 100 TB, run the same shape in two passes — group by hash first,
    * then byte-verify only multi-member hash groups — so single-copy
    * payloads (the vast majority) never shuffle their bytes. */
  def dedupExactMedia(assets: Dataset[MediaAsset]): DataFrame =
    assets.toDF()
      .groupBy(xxhash64(col("payload")).as("__h"), col("payload"))
      .agg(min("asset_id").as("canonical_id"),
        count(lit(1)).as("n_copies"),
        array_join(sort_array(collect_list(col("asset_id")))
          .cast("array<string>"), ",").as("member_ids"))
      .select(col("canonical_id"), length(col("payload")).as("n_bytes"),
        col("n_copies"), col("member_ids"))
}
