package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.{GifCodec, Multimodal, PixelCodec}

/** Frame-level multimodal conformance: uniform frame sampling over
  * animated clips (`mm_frame_sample`) and re-edited-clip detection via
  * frame-space near-dup pairing (`mm_frame_near`) — the "frame-sample"
  * primitive of a video curation pipeline, exercised end-to-end over
  * REAL animated GIF bytes ([[graft.multimodal.GifCodec]]'s sub-rect
  * compositing walker; a production video decoder slots in behind the
  * same payload→frames seam). Fixture clips are planted from the
  * documents table with an md5-exact frame-evolution formula, so every
  * sampled frame's dHash (and every expected clip pair) is pure
  * integer+md5 arithmetic the DuckDB oracle recomputes verbatim.
  */
object MultimodalFrameOps extends QueryModule {

  /** Luma of the cell changed by evolution step `g` of scene `id` —
    * first md5 byte of "f{id}_{g}", the frame analog of
    * [[PixelCodec.sceneLuma]] (and of AudioCodec's 'a'-prefixed keys:
    * a distinct prefix keeps the three fixture key spaces disjoint). */
  private def chgLuma(id: Long, g: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"f${id}_$g".getBytes("UTF-8"))(0) & 0xff
  }

  /** The clip's frames: frame 0 is the base scene; frame f applies
    * cumulative single-cell changes g = 1..f at cell (g·11) % 64 —
    * distinct cells for g ≤ 5, so the oracle resolves "which change
    * owns cell c" as c/11 with no override case. One changed cell per
    * step keeps consecutive frames near in dHash space AND gives
    * [[GifCodec.encodeGifAnimated]]'s delta-rect encoder a real
    * sub-rectangle to composite. */
  private[graft] def frameGrids(id: Long, f: Int,
      pert: Boolean = false): Seq[PixelCodec.Gray] = {
    val grid = PixelCodec.sceneGrid(id)
    // the perturbed form (streamed-admission %125 family) shifts cell
    // (3, 4) — outside the evolution cells — in EVERY frame, so each
    // frame sits ≤2 dHash bits from its unperturbed counterpart
    if (pert) grid(4 * 8 + 3) = (grid(4 * 8 + 3) + 16) % 256
    (0 until f).map { fno =>
      if (fno > 0) grid((fno * 11) % 64) = chgLuma(id, fno)
      PixelCodec.renderGrid(grid, 64)
    }
  }

  /** Plant animated clips once per (session, dir): every 25th doc is a
    * clip with F = (id%4)+3 frames (64×64 renderings of the evolution
    * formula, delta-rect encoded — frames 1+ are true sub-rectangle
    * composites). Variants:
    *   +1·Offset (id%50):  a STILL of frame 0 (single-frame GIF — the
    *                        f < k sampling boundary, and a distance-0
    *                        frame match for mm_frame_near);
    *   +2·Offset (id%100): a RE-EDIT — the same frames re-encoded
    *                        full-canvas, INTERLACED, with per-frame
    *                        local tables and a different palette
    *                        colorization (byte-distinct,
    *                        frame-identical — pins the deinterlacer on
    *                        the animated path too);
    *   +3·Offset (id%300): an MJPEG-MP4 — the SAME frames in a true
    *                        video container ([[graft.multimodal
    *                        .Mp4Codec]]: stbl sample-table walk,
    *                        2-samples-per-chunk stsc runs, per-sample
    *                        JPEG decode). Every frame matches the GIF
    *                        clip at dist 0, so the cross-CONTAINER
    *                        copy pairs with clip, still, and re-edit
    *                        (300 implies %50 and %100: both exist);
    *   +4·Offset (id%600): an MJPEG-AVI — the SAME frames in the RIFF
    *                        container ([[graft.multimodal.AviCodec]]:
    *                        hdrl stream walk, movi chunk collection —
    *                        `rec `-grouped and color-JPEG for %1200).
    *                        600 implies %50, %100, AND %300, so the
    *                        AVI pairs with clip, still, re-edit, and
    *                        the MP4 — a three-container copy set;
    *   +5·Offset (id%175): corrupt — the stream truncated at half, so
    *                        the frames walker MUST return None and the
    *                        clip drops at the decode gate (never
    *                        reaches either oracle);
    *   +6·Offset (id%150): an animated WebP — the SAME frames in the
    *                        VP8X/ANIM/ANMF container
    *                        ([[graft.multimodal.WebpCodec
    *                        .decodeWebpFrames]]): frames 1+ are
    *                        even-aligned changed-pixel sub-rects of
    *                        lossless VP8L, composited on decode.
    *                        Colorized (BT.601-exact) for %450. 150
    *                        implies %50 (pairs with clip AND still);
    *                        %300 adds the re-edit/MP4 pairs and %600
    *                        the AVI pair;
    *   +7·Offset (id%200): an AVC (H.264) MP4 — the documented DIGEST
    *                        tier ([[graft.multimodal.Mp4Codec
    *                        .decodeAvcDigest]]): deterministic NAL
    *                        content, avcC baseline 66/level 30,
    *                        4-byte length prefixes. NOT frame-
    *                        decodable (invisible to the frame
    *                        oracles); surfaces via mm_clip_exact;
    *   +8·Offset (id%400): the AVC RE-MUX twin — same NAL content,
    *                        3-sample chunks, 2-byte length prefixes,
    *                        AND a 64-bit co64 chunk-offset table:
    *                        byte-distinct framing, the identical
    *                        fingerprint (%400 implies %200: its
    *                        primary always exists);
    *   +9·Offset (id%800): a truncated AVC copy (moov cut away) —
    *                        digest MUST be None; never surfaces;
    *   +10·Offset (id%400): the RE-FRAGMENTED twin — the same NAL
    *                        content as a DASH-era fragmented MP4
    *                        (empty stbl, per-fragment moof/traf/trun,
    *                        largesize mdat headers): byte-distinct,
    *                        the identical fingerprint;
    *   +11·Offset (id%800): a fragmented copy truncated MID-FRAGMENT
    *                        — digest MUST be None; never surfaces;
    *   +12·Offset (id%250): a WebM clip — the EBML-container digest
    *                        tier ([[graft.multimodal.WebmCodec]]:
    *                        DocType/Tracks/Cluster walk, per-block
    *                        frame digests). NOT pixel-decodable
    *                        (invisible to the frame oracles);
    *                        surfaces via mm_webm_exact;
    *   +13·Offset (id%500): the RE-CLUSTERED WebM twin — identical
    *                        frame payloads, one block per cluster
    *                        framed as BlockGroup>Block instead of
    *                        SimpleBlock: byte-distinct, the same
    *                        fingerprint (%500 implies %250);
    *   +14·Offset (id%1000): a truncated WebM copy (segment cut) —
    *                        digest MUST be None; never surfaces;
    *   +15·Offset (id%500): the XIPH-LACED WebM twin — the same
    *                        frames packed one laced block per
    *                        cluster (255-run size table):
    *                        byte-distinct, the same fingerprint;
    *   +16·Offset (id%1000): the EBML-LACED WebM twin — vint first
    *                        size + signed-delta table: byte-distinct,
    *                        the same fingerprint;
    *   +17·Offset (id%350): an audio-only WebM (.weba, A_OPUS) — the
    *                        audio-track selection path, in the
    *                        disjoint "weba"/"x" payload key space;
    *   +18·Offset (id%700): the re-laced .weba twin (Xiph) — same
    *                        fingerprint as its %350 primary;
    *   +19·Offset (id%500): the AUDIO-SIBLING WebM twin — the %250
    *                        video frames re-muxed beside an
    *                        interleaved A_OPUS track whose blocks the
    *                        track filter must ignore: byte-distinct,
    *                        collapses onto the %250 primary;
    *   +20·Offset (id%400): the TREX-DEFAULT fragmented AVC twin —
    *                        the same NAL content re-fragmented with
    *                        default_sample_size carried by mvex/trex
    *                        and the uniform truns' size tables
    *                        OMITTED (the DASH init-segment layout):
    *                        byte-distinct, the identical fingerprint;
    *   +21·Offset (id%500): the UNKNOWN-SIZE-SEGMENT WebM twin — the
    *                        %250 frames under an all-ones Segment
    *                        size vint (sized clusters): byte-
    *                        distinct, the same fingerprint;
    *   +22·Offset (id%1000): the full MediaRecorder-shape WebM twin —
    *                        unknown-size Segment AND Clusters (each
    *                        cluster bounded by the next top-level
    *                        ID): byte-distinct, the same fingerprint;
    *   +23·Offset (id%1000): a MediaRecorder-shape copy truncated
    *                        MID-BLOCK — digest MUST be None; never
    *                        surfaces;
    *   +24·Offset (id%1000): the CRC-32-CHECKSUMMED WebM twin — the
    *                        %250 frames with RFC 8794 CRC-32 elements
    *                        leading Tracks and every Cluster
    *                        (verified framing, excluded from
    *                        content): byte-distinct, the same
    *                        fingerprint;
    *   +25·Offset (id%500): the RE-TAGGED WebM twin — a Matroska
    *                        Tags element appended after the clusters
    *                        (the mkvpropedit shape): metadata the
    *                        fingerprint must ignore;
    *   +26·Offset (id%800): the SPLIT-TRUN fragmented AVC twin — each
    *                        fragment's samples across TWO truns, the
    *                        second with no data offset (contiguous
    *                        continuation): byte-distinct, the
    *                        identical fingerprint (%800 implies %200:
    *                        its primary always exists);
    *   +27·Offset (id%200): an MPEG-TS segment (HLS `.ts`) — the SAME
    *                        AVC access units as the %200 MP4 primary
    *                        re-muxed into 188-byte transport packets
    *                        ([[graft.multimodal.TsCodec]]: PAT→PMT→
    *                        PES walk, Annex-B NAL split, SPS/PPS/AUD
    *                        excluded as carried-configuration) — the
    *                        CROSS-CONTAINER packager duplicate, whose
    *                        fingerprint collapses onto the MP4;
    *   +28·Offset (id%400): the RE-PACKETIZED TS twin — repeated PSI,
    *                        null-packet padding, unbounded PES
    *                        lengths, 4-byte start codes, per-AU
    *                        parameter sets: byte-distinct, the
    *                        identical fingerprint;
    *   +29·Offset (id%800): a TS copy truncated MID-PACKET (length no
    *                        longer a multiple of 188) — digest MUST
    *                        be None; never surfaces;
    *   +30·Offset (id%250): an AVIF still — the HEIF ITEM path
    *                        ([[graft.multimodal.AvifCodec]]: meta/
    *                        pitm/iinf/iloc/iprp walk, the primary
    *                        av01 item's coded payload digested, no
    *                        pixel decode by contract); surfaces via
    *                        mm_avif_exact;
    *   +31·Offset (id%500): the RE-BOXED AVIF twin — the same coded
    *                        payload carried in meta's idat across
    *                        TWO extents under a v1 iloc with 8-byte
    *                        fields, a free box, shuffled meta
    *                        children: byte-distinct, the identical
    *                        fingerprint;
    *   +32·Offset (id%1000): an AVIF copy with a TRUNCATED iloc
    *                        extent — digest MUST be None; never
    *                        surfaces;
    *   +33·Offset (id%500): a HEIC still (hvc1 item + hvcC property)
    *                        — the same walk, its own disjoint
    *                        fingerprint key space;
    *   +34·Offset (id%1000): the RE-BOXED HEIC twin — collapses onto
    *                        its %500 primary;
    *   +35·Offset (id%400): the MUXED-A/V TS twin — the same video
    *                        access units interleaved with an AAC
    *                        sibling PID (stream_type 0x0F in the
    *                        PMT, per-unit audio PES) — the real HLS
    *                        segment shape; sibling program
    *                        components are ignored by the video
    *                        digest, so it collapses cross-container
    *                        onto the %200 MP4 primary;
    *   +36·Offset (id%500): the EXIF-TAGGED AVIF twin — a second
    *                        item (infe type Exif + its own iloc
    *                        extent) beside the untouched primary
    *                        (the exiftool re-tag shape): collapses
    *                        onto the %250 primary;
    *   +37·Offset (id%400): the M2TS twin — the same transport
    *                        packets behind 4-byte BDAV
    *                        TP_extra_headers (192-byte form, the
    *                        tsMuxeR/AVCHD re-wrap): pure framing,
    *                        collapses cross-container onto the %200
    *                        MP4 primary;
    *   +38·Offset (id%300): an HEVC TS segment (stream_type 0x24,
    *                        2-byte NAL headers, in-band VPS+SPS+PPS,
    *                        the HEVC descriptor) — the other HLS
    *                        video codec, its own disjoint "hev"
    *                        fingerprint family;
    *   +39·Offset (id%600): the RE-PACKETIZED HEVC twin — repeated
    *                        PSI, null padding, unbounded PES, long
    *                        start codes, per-AU parameter sets:
    *                        byte-distinct, collapses onto the %300
    *                        HEVC primary. */
  private def clipFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_clip_fixtures") { base =>
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", "mm_frame_sample")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/$name"), bytes)
      docs.filter(col("doc_id") % 25 === 0).select("doc_id")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val f = (id % 4).toInt + 3
          val frames = frameGrids(id, f)
          put(s"asset_$id.gif",
            GifCodec.encodeGifAnimated(frames, salt = (id % 5).toInt))
          if (id % 50 == 0)
            put(s"asset_${id + Planting.Offset}.gif",
              GifCodec.encodeGif(frames.head, salt = (id % 7).toInt))
          if (id % 100 == 0)
            put(s"asset_${id + 2 * Planting.Offset}.gif",
              GifCodec.encodeGifAnimated(frames,
                salt = (id % 9 + 1).toInt, deltaRect = false,
                interlaced = true))
          if (id % 300 == 0)
            put(s"asset_${id + 3 * Planting.Offset}.mp4",
              graft.multimodal.Mp4Codec.encodeMjpegMp4(frames,
                chunkSize = 2, color = id % 600 == 0))
          if (id % 600 == 0)
            put(s"asset_${id + 4 * Planting.Offset}.avi",
              graft.multimodal.AviCodec.encodeMjpegAvi(frames,
                color = id % 1200 == 0,
                recGroup = if (id % 1200 == 0) 2 else 0))
          if (id % 175 == 0) {
            val full = GifCodec.encodeGifAnimated(frames, salt = 3)
            put(s"asset_${id + 5 * Planting.Offset}.gif",
              full.take(full.length / 2))
          }
          if (id % 150 == 0)
            put(s"asset_${id + 6 * Planting.Offset}.webp",
              graft.multimodal.WebpEncoder.encodeWebpAnimated(frames,
                salt = (id % 5).toInt, color = id % 450 == 0))
          // the AVC digest-tier families (+7/+8/+9·Offset): H.264
          // clips are NOT pixel-decodable here by the documented
          // contract, so they are invisible to the frame oracles
          // (they drop at the frame-decode gate like the corrupt
          // family) and surface through mm_clip_exact instead. The
          // %400 re-mux twin changes chunking AND NAL length-prefix
          // width but not one content byte — its fingerprint must
          // collapse onto the %200 primary. The %800 truncated copy
          // (moov cut away) must digest to None.
          if (id % 200 == 0) {
            // sample count from id/200 — a knob coprime to the
            // planting modulus ((id%4)+3 is constant 3 for multiples
            // of 200), so the AVC corpus carries varying clip lengths
            // and >2-fragment walks
            val fa = ((id / 200) % 4).toInt + 3
            put(s"asset_${id + 7 * Planting.Offset}.mp4",
              graft.multimodal.Mp4Codec.encodeAvcMp4(id, fa, 64, 64,
                chunkSize = 2, lengthSize = 4))
            if (id % 400 == 0) {
              put(s"asset_${id + 8 * Planting.Offset}.mp4",
                graft.multimodal.Mp4Codec.encodeAvcMp4(id, fa, 64, 64,
                  chunkSize = 3, lengthSize = 2, useCo64 = true))
              // the DASH-era RE-FRAGMENTED twin: identical NAL bytes
              // behind moof/traf/trun runs and largesize mdat headers
              put(s"asset_${id + 10 * Planting.Offset}.mp4",
                graft.multimodal.Mp4Codec.encodeAvcFragmentedMp4(
                  id, fa, 64, 64, samplesPerFrag = 2,
                  largesizeMdat = true))
              // the TREX-DEFAULT twin: the DASH init-segment layout —
              // default_sample_size in mvex/trex, uniform truns with
              // their size tables omitted
              put(s"asset_${id + 20 * Planting.Offset}.mp4",
                graft.multimodal.Mp4Codec.encodeAvcFragmentedMp4(
                  id, fa, 64, 64, samplesPerFrag = 2,
                  trexSizeDefaults = true))
            }
            // the MPEG-TS families (+27/+28/+29·Offset): the same
            // access units behind 188-byte transport packets — the
            // HLS packager duplicate. The %200 TS primary itself
            // collapses CROSS-CONTAINER onto the %200 MP4 (min asset
            // id); the %400 re-packetized twin changes PSI cadence,
            // padding, PES bounding, start-code width, and parameter-
            // set carriage without touching one digested byte; the
            // %800 mid-packet truncation must never surface.
            put(s"asset_${id + 27 * Planting.Offset}.ts",
              graft.multimodal.TsCodec.encodeAvcTs(id, fa))
            if (id % 400 == 0) {
              put(s"asset_${id + 28 * Planting.Offset}.ts",
                graft.multimodal.TsCodec.encodeAvcTs(id, fa,
                  psiRepeat = true, nullPadding = true,
                  pesLenZero = true, longStartCodes = true,
                  psRepeat = true))
              // the muxed-A/V twin: an AAC sibling PID the video
              // digest must ignore (the real HLS segment shape)
              put(s"asset_${id + 35 * Planting.Offset}.ts",
                graft.multimodal.TsCodec.encodeAvcTs(id, fa,
                  audioSibling = true))
              // the M2TS re-wrap: 192-byte BDAV packets, same stream
              put(s"asset_${id + 37 * Planting.Offset}.m2ts",
                graft.multimodal.TsCodec.encodeAvcTs(id, fa,
                  m2ts = true))
            }
            if (id % 800 == 0) {
              val tfull = graft.multimodal.TsCodec.encodeAvcTs(id, fa)
              put(s"asset_${id + 29 * Planting.Offset}.ts",
                tfull.take(tfull.length - 30))
              val full = graft.multimodal.Mp4Codec.encodeAvcMp4(
                id, fa, 64, 64, chunkSize = 2, lengthSize = 4)
              put(s"asset_${id + 9 * Planting.Offset}.mp4",
                full.take(full.length / 2))
              // the SPLIT-TRUN twin: two truns per traf, the second
              // continuing contiguously with no data offset
              put(s"asset_${id + 26 * Planting.Offset}.mp4",
                graft.multimodal.Mp4Codec.encodeAvcFragmentedMp4(
                  id, fa, 64, 64, samplesPerFrag = 2,
                  splitTruns = true))
              // truncated MID-FRAGMENT (not at a fragment boundary):
              // the strict top-level tiling must drop it whole
              val ffull = graft.multimodal.Mp4Codec
                .encodeAvcFragmentedMp4(id, fa, 64, 64,
                  samplesPerFrag = 2)
              put(s"asset_${id + 11 * Planting.Offset}.mp4",
                ffull.take(ffull.length - 30))
            }
          }
          // the HEVC TS families (+38/+39·Offset): the other HLS
          // video codec — stream_type 0x24, 2-byte NAL headers,
          // in-band VPS+SPS+PPS, its own "hev" fingerprint key
          // space; the %600 re-packetized twin collapses onto the
          // %300 primary. Sample count from id/300 — coprime knob.
          if (id % 300 == 0) {
            val fh = ((id / 300) % 4).toInt + 3
            put(s"asset_${id + 38 * Planting.Offset}.ts",
              graft.multimodal.TsCodec.encodeAvcTs(id, fh,
                hevc = true))
            if (id % 600 == 0)
              put(s"asset_${id + 39 * Planting.Offset}.ts",
                graft.multimodal.TsCodec.encodeAvcTs(id, fh,
                  hevc = true, psiRepeat = true, nullPadding = true,
                  pesLenZero = true, longStartCodes = true,
                  psRepeat = true))
          }
          // the WebM digest-tier families (+12/+13/+14·Offset): EBML
          // grammar walk, frame payloads digested (clusters and block
          // framing are container layout). The %500 RE-CLUSTERED twin
          // changes clustering AND SimpleBlock→BlockGroup framing but
          // not one frame byte — its fingerprint collapses onto the
          // %250 primary; the %1000 truncated copy (segment cut
          // short) must digest to None. Frame count from id/250 — a
          // knob coprime to the planting modulus.
          if (id % 250 == 0) {
            val nb = ((id / 250) % 4).toInt + 2
            put(s"asset_${id + 12 * Planting.Offset}.webm",
              graft.multimodal.WebmCodec.encodeWebm(id, nb,
                framesPerCluster = 2))
            if (id % 500 == 0)
              put(s"asset_${id + 13 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 1, useBlockGroups = true))
            if (id % 1000 == 0) {
              val full = graft.multimodal.WebmCodec.encodeWebm(id, nb,
                framesPerCluster = 2)
              put(s"asset_${id + 14 * Planting.Offset}.webm",
                full.take(full.length - 40))
            }
            // the RE-LACED twins: identical frames, one laced block
            // per cluster — Xiph 255-run sizes at %500, EBML
            // vint+signed-delta sizes at %1000; both collapse onto
            // the %250 primary
            if (id % 500 == 0)
              put(s"asset_${id + 15 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 3, lacing = 1))
            if (id % 1000 == 0)
              put(s"asset_${id + 16 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 3, lacing = 3))
            // the AUDIO-SIBLING twin: the same video frames with an
            // interleaved A_OPUS track — the filter must ignore it
            if (id % 500 == 0)
              put(s"asset_${id + 19 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 2, audioSibling = true))
            // the UNKNOWN-SIZE twins (the browser-MediaRecorder /
            // live-mux shape): an all-ones Segment size vint at %500,
            // unknown Segment AND Clusters at %1000 — both collapse
            // onto the %250 primary. The %1000 truncated copy cuts
            // 40 bytes into the last block's 180-byte payload, so
            // the known block size overruns and it must never surface
            if (id % 500 == 0)
              put(s"asset_${id + 21 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 2, unknownSizeSegment = true))
            if (id % 1000 == 0) {
              put(s"asset_${id + 22 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 2, unknownSizeSegment = true,
                  unknownSizeClusters = true))
              val ufull = graft.multimodal.WebmCodec.encodeWebm(id, nb,
                framesPerCluster = 2, unknownSizeSegment = true,
                unknownSizeClusters = true)
              put(s"asset_${id + 23 * Planting.Offset}.webm",
                ufull.take(ufull.length - 40))
              // the CRC-32-checksummed twin: verified framing the
              // digest excludes
              put(s"asset_${id + 24 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 3, crc32Elements = true))
            }
            // the RE-TAGGED twin: a Tags element after the clusters
            if (id % 500 == 0)
              put(s"asset_${id + 25 * Planting.Offset}.webm",
                graft.multimodal.WebmCodec.encodeWebm(id, nb,
                  framesPerCluster = 2, tagsElement = true))
            // the AVIF/HEIC item families (+30..+34·Offset): the
            // HEIF still-image tier riding the same fixture corpus.
            // The %500 re-boxed twins (idat carriage, split extents,
            // v1 iloc) collapse onto their primaries; the %1000
            // truncated-extent copy never surfaces. Dimensions are
            // oracle-computable pure arithmetic.
            val aw = (id % 512 + 16).toInt
            val ah = (id * 7 % 512 + 16).toInt
            put(s"asset_${id + 30 * Planting.Offset}.avif",
              graft.multimodal.AvifCodec.encodeAvif(id, aw, ah))
            if (id % 500 == 0) {
              put(s"asset_${id + 31 * Planting.Offset}.avif",
                graft.multimodal.AvifCodec.encodeAvif(id, aw, ah,
                  reBoxed = true))
              put(s"asset_${id + 33 * Planting.Offset}.heic",
                graft.multimodal.AvifCodec.encodeAvif(id, aw, ah,
                  heic = true))
              // the exiftool re-tag shape: a second (Exif) item
              // beside the untouched primary
              put(s"asset_${id + 36 * Planting.Offset}.avif",
                graft.multimodal.AvifCodec.encodeAvif(id, aw, ah,
                  exifItem = true))
            }
            if (id % 1000 == 0) {
              val afull = graft.multimodal.AvifCodec.encodeAvif(id, aw, ah)
              put(s"asset_${id + 32 * Planting.Offset}.avif",
                afull.take(afull.length - 30))
              put(s"asset_${id + 34 * Planting.Offset}.heic",
                graft.multimodal.AvifCodec.encodeAvif(id, aw, ah,
                  heic = true, reBoxed = true))
            }
          }
          // the audio-only WebM families (+17/+18·Offset): A_OPUS
          // .weba in the disjoint "weba"/"x" key space; the %700
          // re-laced twin collapses onto its %350 primary
          if (id % 350 == 0) {
            val na = ((id / 350) % 4).toInt + 2
            put(s"asset_${id + 17 * Planting.Offset}.weba",
              graft.multimodal.WebmCodec.encodeWebm(id, na,
                framesPerCluster = 2, audioTrack = true))
            if (id % 700 == 0)
              put(s"asset_${id + 18 * Planting.Offset}.weba",
                graft.multimodal.WebmCodec.encodeWebm(id, na,
                  framesPerCluster = 3, lacing = 1, audioTrack = true))
          }
        }
      base
    }

  // The AVC digest tier end-to-end: binary ingest → the documented
  // no-pixel-decode contract (container metadata + per-sample NAL
  // content digests, Mp4Codec.decodeAvcDigest) → exact clip dedup by
  // fingerprint (canonical = min asset id sharing it). The %400
  // re-muxed twins (different chunking, 2-byte length prefixes, co64
  // offsets) AND the %400 re-fragmented twins (moof/traf/trun,
  // largesize mdat) MUST collapse onto their %200 primaries; the
  // truncated %800 copies must never surface. Scale: digests are one
  // projection, the dedup groups 32-char fingerprints — video bytes
  // never shuffle.
  private def mmClipExact(s: SparkSession, d: String): DataFrame = {
    val digests = Multimodal.avcClipDigests(
      Multimodal.ingestBinary(s, clipFixtureDir(s, d)))
    val canon = digests.groupBy("clip_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("clip_fp"))
      .select(col("asset_id"), col("n_samples"), col("profile_idc"),
        col("level_idc"), col("clip_fp"), col("canonical_id"))
      .orderBy("asset_id")
  }

  // The MPEG-TS digest tier end-to-end, CROSS-CONTAINER with MP4:
  // binary ingest → the two AVC digest walks (TsCodec over the HLS
  // .ts families, Mp4Codec.decodeAvcDigest over the flat/fragmented
  // MP4 families) → one exact dedup over the UNION, keyed by the
  // shared fingerprint formula. The %200 TS primary and the %400
  // re-packetized TS twin MUST collapse onto the %200 MP4 primary
  // (min asset id across containers — the packager re-mux is the
  // canonical HLS duplicate); truncated copies in either container
  // never surface. Scale: two scan-side projections, fingerprint-
  // keyed dedup — video bytes never shuffle.
  private def mmTsExact(s: SparkSession, d: String): DataFrame = {
    val assets = Multimodal.ingestBinary(s, clipFixtureDir(s, d))
    val digests = Multimodal.tsClipDigests(assets)
      .withColumn("container", lit("ts"))
      .unionByName(Multimodal.avcClipDigests(assets)
        .withColumn("container", lit("mp4"))
        .withColumn("codec", lit("avc")))
    val canon = digests.groupBy("clip_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("clip_fp"))
      .select(col("asset_id"), col("container"), col("codec"),
        col("n_samples"), col("profile_idc"), col("level_idc"),
        col("clip_fp"), col("canonical_id"))
      .orderBy("asset_id")
  }

  // The AVIF/HEIC digest tier end-to-end: binary ingest → the
  // documented no-pixel-decode contract (HEIF item walk,
  // AvifCodec.decodeAvifDigest) → exact still dedup by the primary
  // item's coded-payload fingerprint. The %500 re-boxed twins (idat
  // carriage, split extents, v1 iloc, shuffled meta) MUST collapse
  // onto their %250/%500 primaries; the truncated-extent %1000 copy
  // never surfaces; the av01 and hvc1 families stay disjoint. Scale:
  // one projection, fingerprint-keyed dedup — image bytes never
  // shuffle.
  private def mmAvifExact(s: SparkSession, d: String): DataFrame = {
    val digests = Multimodal.avifItemDigests(
      Multimodal.ingestBinary(s, clipFixtureDir(s, d)))
    val canon = digests.groupBy("item_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("item_fp"))
      .select(col("asset_id"), col("codec"), col("width"),
        col("height"), col("item_fp"), col("canonical_id"))
      .orderBy("asset_id")
  }

  // The WebM digest tier end-to-end: binary ingest → the documented
  // no-pixel-decode contract (EBML walk, per-block frame digests,
  // WebmCodec.decodeWebmDigest) → exact clip dedup by fingerprint.
  // The %500 re-clustered/re-grouped twins AND the %500/%1000
  // re-laced twins (Xiph / EBML lacing) MUST collapse onto their
  // %250 primaries; truncated %1000 copies never surface. Scale: one
  // projection, fingerprint-keyed dedup — video bytes never shuffle.
  private def mmWebmExact(s: SparkSession, d: String): DataFrame = {
    val digests = Multimodal.webmClipDigests(
      Multimodal.ingestBinary(s, clipFixtureDir(s, d)))
    val canon = digests.groupBy("clip_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("clip_fp"))
      .select(col("asset_id"), col("codec_id"), col("n_blocks"),
        col("width"), col("height"), col("clip_fp"),
        col("canonical_id"))
      .orderBy("asset_id")
  }

  // Uniform frame sampling end-to-end: binaryFile scan → animated
  // decode (sub-rect compositing) → keep min(3, F) frames at the bin
  // rule frame_no = j·F/n → per-frame dHash as an LSB-first bit string
  // (mm_phash's rendering). The oracle recomputes every sampled
  // frame's hash from the evolution formula, so the compositing walker
  // is proven pixel-exact on every frame it keeps — including the
  // delta-rect and local-table paths.
  private def mmFrameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.ingestBinary(s, clipFixtureDir(s, d)), k = 3)
      .select(col("asset_id"), col("n_frames"), col("frame_no"),
        reverse(lpad(bin(col("phash")), 64, "0")).as("phash_bits"))
      .orderBy("asset_id", "frame_no")

  // Re-edited-clip detection: clip pairs sharing ≥1 visually-near
  // frame. Every expected pair shares a distance-0 frame by
  // construction (still = frame 0; re-edit = all frames), and distinct
  // scenes sit ~32 dHash bits apart, so the pair set falls straight
  // out of the planting schedule.
  private def mmFrameNear(s: SparkSession, d: String): DataFrame =
    Multimodal.nearDupPairs(clipFps(s, d))
      .select(col("id1").as("clip_a"), col("id2").as("clip_b"))
      .orderBy("clip_a", "clip_b")

  /** Every frame's dHash over the clip fixture corpus: one decode
    * projection, F rows per clip. */
  private def clipFps(s: SparkSession, d: String): DataFrame =
    Multimodal.fingerprints(
      Multimodal.ingestBinary(s, clipFixtureDir(s, d)), Multimodal.clipFp)

  /** Curate v10 — the video+caption composition:
    * [[MultimodalOps.curate]] over the clip fixture corpus (incl. its
    * truncated corrupt family), with mm_frame_near's pair graph as the
    * keep-best clusters and each clip's frame count carried through. */
  private def pipelineCurateV10(s: SparkSession, d: String): DataFrame =
    MultimodalOps.curate(s, d, clipFps(s, d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_frame_sample"     -> (mmFrameSample _),
    "mm_frame_near"       -> (mmFrameNear _),
    "pipeline_curate_v10" -> (pipelineCurateV10 _),
    "mm_clip_exact"       -> (mmClipExact _),
    "mm_webm_exact"       -> (mmWebmExact _),
    "mm_ts_exact"         -> (mmTsExact _),
    "mm_avif_exact"       -> (mmAvifExact _),
  )

  /** Fixture planting is one-time per (session, dir) — an explicit
    * build line, like the other mm fixture dirs. */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map("mm_frame_build" -> ((s, d) => { clipFixtureDir(s, d); () }))

  /** The planted clip schedule as a DuckDB CTE pair: decodable clips
    * only (the %175 corrupt family falls at the decode gate), each with
    * its scene and frame count. */
  private val clipsCte: String =
    """d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
       clips AS (
         SELECT doc_id AS asset_id, doc_id AS scene,
                (doc_id % 4) + 3 AS f FROM d
         UNION ALL SELECT doc_id + 100000, doc_id, 1 FROM d
           WHERE doc_id % 50 = 0
         UNION ALL SELECT doc_id + 200000, doc_id, (doc_id % 4) + 3 FROM d
           WHERE doc_id % 100 = 0
         UNION ALL SELECT doc_id + 300000, doc_id, (doc_id % 4) + 3 FROM d
           WHERE doc_id % 300 = 0
         UNION ALL SELECT doc_id + 400000, doc_id, (doc_id % 4) + 3 FROM d
           WHERE doc_id % 600 = 0
         UNION ALL SELECT doc_id + 600000, doc_id, (doc_id % 4) + 3 FROM d
           WHERE doc_id % 150 = 0)"""

  /** The frame-evolution luma at cell (gx, gy) of frame `fno` of
    * `scene` as DuckDB SQL — ONE rendering shared by the
    * mm_frame_sample and mm_frame_stream_admit oracles (the no-copies
    * rule): the evolution byte md5("f{scene}_{idx/11}") when idx ∈
    * {11,22,33,44,55} and idx/11 ≤ fno, else the base scene byte. */
  private[queries] def frameLumaSql(scene: String, fno: String,
      gx: String, gy: String): String = {
    val idx = s"($gy * 8 + $gx)"
    s"""CASE WHEN $idx > 0 AND $idx % 11 = 0 AND $idx // 11 <= $fno
             THEN ${MultimodalOps.hexByteSql(
               s"md5('f' || CAST($scene AS VARCHAR) || '_' || " +
               s"CAST($idx // 11 AS VARCHAR))")}
             ELSE ${MultimodalOps.hexByteSql(
               s"md5(CAST($scene AS VARCHAR) || '_' || " +
               s"CAST($gx AS VARCHAR) || '_' || CAST($gy AS VARCHAR))")}
        END"""
  }

  val oracles: Map[String, String] = Map(

    // recomputes every expected AVC digest from the planting formula:
    // sample k's NAL payload text is "avc:{scene}:{k}:" ||
    // md5("n{scene}_{k}"), with an "sei:{scene}" NAL prepended on
    // frame 0 — the per-sample digest is md5 of the concatenated
    // payloads, the clip fingerprint md5 of the ordered digest
    // string. The %400 re-mux twin (3-sample chunks, 2-byte prefixes,
    // co64 offsets), the %400 RE-FRAGMENTED twin (moof/traf/trun,
    // largesize mdat), AND the %400 TREX-DEFAULT twin (sizes carried
    // by mvex/trex, uniform truns sizeless) all recompute to the SAME
    // fingerprint — framing is excluded from the digest by contract —
    // so their canonical_id is the %200 primary; the truncated %800
    // copies (flat moov cut away; fragmented cut mid-fragment) never
    // appear.
    "mm_clip_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         avc AS (
           SELECT doc_id + 700000 AS asset_id, doc_id AS scene FROM d
             WHERE doc_id % 200 = 0
           UNION ALL SELECT doc_id + 800000, doc_id FROM d
             WHERE doc_id % 400 = 0
           UNION ALL SELECT doc_id + 1000000, doc_id FROM d
             WHERE doc_id % 400 = 0
           -- the trex-default fragmented twin: same NAL content
           UNION ALL SELECT doc_id + 2000000, doc_id FROM d
             WHERE doc_id % 400 = 0
           -- the split-trun fragmented twin: same NAL content
           UNION ALL SELECT doc_id + 2600000, doc_id FROM d
             WHERE doc_id % 800 = 0),
         samp AS (
           SELECT a.asset_id, t.k,
                  md5(CASE WHEN t.k = 0
                           THEN 'sei:' || CAST(a.scene AS VARCHAR)
                           ELSE '' END ||
                      'avc:' || CAST(a.scene AS VARCHAR) || ':' ||
                      CAST(t.k AS VARCHAR) || ':' ||
                      md5('n' || CAST(a.scene AS VARCHAR) || '_' ||
                          CAST(t.k AS VARCHAR))) AS dig
           FROM avc a, range(7) t(k)
           WHERE t.k < ((a.scene // 200) % 4) + 3),
         clip AS (
           SELECT asset_id, count(*) AS n_samples,
                  md5(string_agg(dig, '' ORDER BY k)) AS clip_fp
           FROM samp GROUP BY asset_id)
         SELECT c.asset_id, c.n_samples, CAST(66 AS BIGINT) AS profile_idc,
                CAST(30 AS BIGINT) AS level_idc, c.clip_fp,
                (SELECT min(c2.asset_id) FROM clip c2
                  WHERE c2.clip_fp = c.clip_fp) AS canonical_id
         FROM clip c ORDER BY c.asset_id""",

    // the CROSS-CONTAINER dedup oracle: every decodable AVC asset in
    // BOTH containers recomputes to the same per-sample digest
    // formula (SPS/PPS/AUD are carried configuration — excluded from
    // content on the TS side exactly as avcC keeps them out of MP4
    // samples), so the %200 TS primary and the %400 re-packetized TS
    // twin share the %200 MP4 primary's fingerprint and canonicalize
    // onto it (min asset id across containers); mid-packet-truncated
    // TS copies (%800) and truncated MP4 copies never appear.
    "mm_ts_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         avc AS (
           SELECT doc_id + 700000 AS asset_id, doc_id AS scene,
                  'mp4' AS container FROM d WHERE doc_id % 200 = 0
           UNION ALL SELECT doc_id + 800000, doc_id, 'mp4' FROM d
             WHERE doc_id % 400 = 0
           UNION ALL SELECT doc_id + 1000000, doc_id, 'mp4' FROM d
             WHERE doc_id % 400 = 0
           UNION ALL SELECT doc_id + 2000000, doc_id, 'mp4' FROM d
             WHERE doc_id % 400 = 0
           UNION ALL SELECT doc_id + 2600000, doc_id, 'mp4' FROM d
             WHERE doc_id % 800 = 0
           -- the HLS TS families: the same access units, re-muxed
           UNION ALL SELECT doc_id + 2700000, doc_id, 'ts' FROM d
             WHERE doc_id % 200 = 0
           UNION ALL SELECT doc_id + 2800000, doc_id, 'ts' FROM d
             WHERE doc_id % 400 = 0
           -- the muxed-A/V twin: the audio sibling PID is ignored
           UNION ALL SELECT doc_id + 3500000, doc_id, 'ts' FROM d
             WHERE doc_id % 400 = 0
           -- the M2TS re-wrap: TP_extra_headers are framing
           UNION ALL SELECT doc_id + 3700000, doc_id, 'ts' FROM d
             WHERE doc_id % 400 = 0),
         -- the HEVC families: their own "hev" payload key space —
         -- the %600 re-packetized twin collapses onto the %300
         -- primary, never onto an AVC fingerprint
         hev AS (
           SELECT doc_id + 3800000 AS asset_id, doc_id AS scene,
                  'ts' AS container FROM d WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id + 3900000, doc_id, 'ts' FROM d
             WHERE doc_id % 600 = 0),
         samp AS (
           SELECT a.asset_id, t.k,
                  md5(CASE WHEN t.k = 0
                           THEN 'sei:' || CAST(a.scene AS VARCHAR)
                           ELSE '' END ||
                      'avc:' || CAST(a.scene AS VARCHAR) || ':' ||
                      CAST(t.k AS VARCHAR) || ':' ||
                      md5('n' || CAST(a.scene AS VARCHAR) || '_' ||
                          CAST(t.k AS VARCHAR))) AS dig
           FROM avc a, range(7) t(k)
           WHERE t.k < ((a.scene // 200) % 4) + 3
           UNION ALL
           SELECT h.asset_id, t.k,
                  md5(CASE WHEN t.k = 0
                           THEN 'hsei:' || CAST(h.scene AS VARCHAR)
                           ELSE '' END ||
                      'hev:' || CAST(h.scene AS VARCHAR) || ':' ||
                      CAST(t.k AS VARCHAR) || ':' ||
                      md5('h' || CAST(h.scene AS VARCHAR) || '_' ||
                          CAST(t.k AS VARCHAR))) AS dig
           FROM hev h, range(7) t(k)
           WHERE t.k < ((h.scene // 300) % 4) + 3),
         clip AS (
           SELECT asset_id, count(*) AS n_samples,
                  md5(string_agg(dig, '' ORDER BY k)) AS clip_fp
           FROM samp GROUP BY asset_id),
         meta AS (
           SELECT asset_id, container, 'avc' AS codec,
                  66 AS p, 30 AS l FROM avc
           UNION ALL SELECT asset_id, container, 'hevc', 1, 93
             FROM hev)
         SELECT c.asset_id, m.container, m.codec, c.n_samples,
                CAST(m.p AS BIGINT) AS profile_idc,
                CAST(m.l AS BIGINT) AS level_idc, c.clip_fp,
                (SELECT min(c2.asset_id) FROM clip c2
                  WHERE c2.clip_fp = c.clip_fp) AS canonical_id
         FROM clip c JOIN meta m USING (asset_id)
         ORDER BY c.asset_id""",

    // recomputes every expected HEIF item digest from the planting
    // formula: the coded payload is "{codec}:{scene}:" ||
    // md5("{key}{scene}") dot-padded to 600; the fingerprint is its
    // md5; dimensions are pure arithmetic. The re-boxed twins (idat,
    // split extents, v1 iloc — container framing excluded from
    // content by contract) recompute to the SAME fingerprint, so
    // their canonical_id is the primary; the truncated-extent copy
    // never appears; av01 and hvc1 key spaces stay disjoint.
    "mm_avif_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         im AS (
           SELECT doc_id + 3000000 AS asset_id, doc_id AS scene,
                  'av01' AS codec, 'img' AS kp FROM d
             WHERE doc_id % 250 = 0
           UNION ALL SELECT doc_id + 3100000, doc_id, 'av01', 'img'
             FROM d WHERE doc_id % 500 = 0
           -- the Exif-tagged twin: the second item is metadata
           UNION ALL SELECT doc_id + 3600000, doc_id, 'av01', 'img'
             FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id + 3300000, doc_id, 'hvc1', 'hvc'
             FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id + 3400000, doc_id, 'hvc1', 'hvc'
             FROM d WHERE doc_id % 1000 = 0),
         fp AS (
           SELECT asset_id, codec, scene,
                  md5(rpad(codec || ':' || CAST(scene AS VARCHAR) ||
                       ':' || md5(kp || CAST(scene AS VARCHAR)),
                       600, '.')) AS item_fp
           FROM im)
         SELECT f.asset_id, f.codec,
                CAST(f.scene % 512 + 16 AS BIGINT) AS width,
                CAST(f.scene * 7 % 512 + 16 AS BIGINT) AS height,
                f.item_fp,
                (SELECT min(f2.asset_id) FROM fp f2
                  WHERE f2.item_fp = f.item_fp) AS canonical_id
         FROM fp f ORDER BY f.asset_id""",

    // recomputes every expected WebM digest from the planting
    // formula: block k's frame payload is "webm:{scene}:{k}:" ||
    // md5("w{scene}_{k}") dot-padded to 180, block count
    // ((scene // 250) % 4) + 2; per-frame digest md5 of the payload,
    // clip fingerprint md5 of the ordered digest string. The %500
    // re-clustered twin (one block per cluster, BlockGroup framing),
    // the re-laced twins (Xiph %500, EBML %1000 — frames packed
    // into laced blocks), AND the unknown-size twins (%500 segment,
    // %1000 segment+clusters — the MediaRecorder shape) all recompute
    // to the SAME fingerprint — clusters, block framing, lacing, and
    // the size-vint form are container layout, excluded from content
    // by the tier contract — so their canonical_id is the %250
    // primary; truncated %1000 copies (segment cut; MediaRecorder
    // copy cut mid-block) never appear.
    "mm_webm_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         wb AS (
           SELECT doc_id + 1200000 AS asset_id, doc_id AS scene,
                  'webm' AS tag, 'w' AS kpfx, 250 AS m FROM d
             WHERE doc_id % 250 = 0
           UNION ALL SELECT doc_id + 1300000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id + 1500000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id + 1600000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 1000 = 0
           -- the audio-sibling twin keeps the VIDEO track's frames
           UNION ALL SELECT doc_id + 1900000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 500 = 0
           -- the unknown-size twins (MediaRecorder shape): segment
           -- at %500, segment+clusters at %1000 — same frames
           UNION ALL SELECT doc_id + 2100000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id + 2200000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 1000 = 0
           -- the CRC-32-checksummed twin: verified framing, same
           -- frames
           UNION ALL SELECT doc_id + 2400000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 1000 = 0
           -- the re-tagged twin: a Tags element is metadata
           UNION ALL SELECT doc_id + 2500000, doc_id, 'webm', 'w', 250
             FROM d WHERE doc_id % 500 = 0
           -- the audio-only .weba families: disjoint key space
           UNION ALL SELECT doc_id + 1700000, doc_id, 'weba', 'x', 350
             FROM d WHERE doc_id % 350 = 0
           UNION ALL SELECT doc_id + 1800000, doc_id, 'weba', 'x', 350
             FROM d WHERE doc_id % 700 = 0),
         fr AS (
           SELECT a.asset_id, a.scene, a.tag, t.k,
                  md5(rpad(a.tag || ':' || CAST(a.scene AS VARCHAR) ||
                           ':' || CAST(t.k AS VARCHAR) || ':' ||
                           md5(a.kpfx || CAST(a.scene AS VARCHAR) ||
                               '_' || CAST(t.k AS VARCHAR)),
                           180, '.')) AS dig
           FROM wb a, range(5) t(k)
           WHERE t.k < ((a.scene // a.m) % 4) + 2),
         st AS (
           SELECT asset_id, tag, count(*) AS n_blocks,
                  md5(string_agg(dig, '' ORDER BY k)) AS clip_fp
           FROM fr GROUP BY asset_id, tag)
         SELECT s.asset_id,
                CASE WHEN s.tag = 'webm' THEN 'V_VP8'
                     ELSE 'A_OPUS' END AS codec_id,
                s.n_blocks,
                CAST(CASE WHEN s.tag = 'webm' THEN 64 ELSE 0 END
                     AS BIGINT) AS width,
                CAST(CASE WHEN s.tag = 'webm' THEN 64 ELSE 0 END
                     AS BIGINT) AS height, s.clip_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.clip_fp = s.clip_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // recomputes every sampled frame's dHash from the planting
    // formula: the sampling rule picks frame_no = (j·F) // min(3, F)
    // for j < min(3, F); frame fno's luma at cell idx = gy·8+gx is the
    // evolution byte md5("f{scene}_{idx/11}") when idx ∈ {11,22,33,
    // 44,55} and idx/11 <= fno, else the base scene byte
    // md5("{scene}_{gx}_{gy}") — then the shared gradient rule
    // (bit gx = luma(gx+1 mod 8) > luma(gx), LSB-first). The re-edit
    // family (different bytes: full-canvas frames, local tables, a
    // different palette colorization) must land the SAME rows as its
    // clip at its own asset id — proving the sub-rect-composite and
    // full-frame decode paths agree pixel-for-pixel.
    "mm_frame_sample" ->
      s"""WITH $clipsCte,
          samp AS (
            SELECT c.asset_id, c.scene, CAST(c.f AS BIGINT) AS n_frames,
                   CAST((j.j * c.f) // LEAST(3, c.f) AS BIGINT) AS frame_no
            FROM clips c, range(3) j(j) WHERE j.j < LEAST(3, c.f)),
          g AS (
            SELECT s.asset_id, s.n_frames, s.frame_no, t1.gx, t2.gy,
                   ${frameLumaSql("s.scene", "s.frame_no",
                     "t1.gx", "t2.gy")} AS luma
            FROM samp s, range(8) t1(gx), range(8) t2(gy)),
          bits AS (
            SELECT g1.asset_id, g1.n_frames, g1.frame_no, g1.gx, g1.gy,
                   CASE WHEN g2.luma > g1.luma THEN '1' ELSE '0' END AS bit
            FROM g g1 JOIN g g2 ON g1.asset_id = g2.asset_id
             AND g1.frame_no = g2.frame_no
             AND g2.gy = g1.gy AND g2.gx = (g1.gx + 1) % 8)
          SELECT asset_id, n_frames, frame_no,
                 string_agg(bit, '' ORDER BY gy, gx) AS phash_bits
          FROM bits GROUP BY asset_id, n_frames, frame_no
          ORDER BY asset_id, frame_no""",

    // every stage rule re-expressed from its own per-operator oracle
    // (the v8/v9 discipline on the clip tier): the decodable clip
    // schedule with its frame counts, cluster sizes from the variant
    // schedule (still + re-edit collapse onto their scene clip), the
    // SHARED text_quality_gate metric/keep fragments on the scene
    // document (its caption), and the export shard rule
    "pipeline_curate_v10" ->
      MultimodalOps.curateOracle(clipsCte, clips = true),

    // expected clip pairs fall straight out of the variant schedule:
    // the still shares frame 0 with its clip (distance 0); the re-edit
    // and the MP4 (cross-container, %300 implies %50 AND %100 so both
    // still and re-edit exist beside it) share every frame with all of
    // them; the AVI (%600 implies %50/%100/%300) pairs with all four;
    // the animated WebP (%150 implies %50) pairs with clip and still
    // always, with the re-edit and MP4 when %300 (lcm(100,150) and
    // lcm(300,150)), and with the AVI when %600.
    // Distinct scenes are ~32 bits apart (md5 mixing), far beyond
    // maxDist=2, and within-clip frame pairs are excluded by
    // definition — so no other pair qualifies.
    "mm_frame_near" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         p AS (
           SELECT doc_id AS clip_a, doc_id + 100000 AS clip_b FROM d
             WHERE doc_id % 50 = 0
           UNION ALL SELECT doc_id, doc_id + 200000 FROM d
             WHERE doc_id % 100 = 0
           UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM d
             WHERE doc_id % 100 = 0
           UNION ALL SELECT doc_id, doc_id + 300000 FROM d
             WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id + 100000, doc_id + 300000 FROM d
             WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id + 200000, doc_id + 300000 FROM d
             WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id, doc_id + 400000 FROM d
             WHERE doc_id % 600 = 0
           UNION ALL SELECT doc_id + 100000, doc_id + 400000 FROM d
             WHERE doc_id % 600 = 0
           UNION ALL SELECT doc_id + 200000, doc_id + 400000 FROM d
             WHERE doc_id % 600 = 0
           UNION ALL SELECT doc_id + 300000, doc_id + 400000 FROM d
             WHERE doc_id % 600 = 0
           UNION ALL SELECT doc_id, doc_id + 600000 FROM d
             WHERE doc_id % 150 = 0
           UNION ALL SELECT doc_id + 100000, doc_id + 600000 FROM d
             WHERE doc_id % 150 = 0
           UNION ALL SELECT doc_id + 200000, doc_id + 600000 FROM d
             WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id + 300000, doc_id + 600000 FROM d
             WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id + 400000, doc_id + 600000 FROM d
             WHERE doc_id % 600 = 0)
         SELECT clip_a, clip_b FROM p ORDER BY clip_a, clip_b""",
  )
}
