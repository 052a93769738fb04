package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal-column conformance queries: binary ingestion via the
  * `binaryFile` source, header-real image metadata decode (PNG/JPEG/GIF
  * byte arithmetic — [[graft.multimodal.Multimodal.HeaderDecoder]]),
  * the codec-stub decode seam, and exact media dedup. Fixture files are
  * planted from the documents table, so every oracle re-derives the
  * expected bytes/dimensions from the same planting formula and the
  * whole binaryFile read-back path is hash-checked, not just
  * row-counted.
  */
object MultimodalOps extends QueryModule {

  // The codec-stub decode path (fake video/audio blobs): text bytes
  // carry no image header, so HeaderDecoder falls through to the
  // deterministic stub — the seam a real FFmpeg decoder would fill.
  private def mmDecodeMeta(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.decodeMeta(
        Multimodal.assetsFromText(Tables.documents(s, d), "doc_id", "text"))
      .toDF()
      .orderBy("asset_id")
  }

  /** Plant REAL image files once per (session, dir): every 25th doc
    * becomes `asset_<id>.png` (JPEG for every 50th) whose header
    * encodes width = id%640+1, height = id*7%480+1 via
    * [[Multimodal.MediaHeaders]] — valid PNG IHDR / JPEG SOF0 bytes,
    * dimensions derivable from doc_id in the DuckDB oracle. The text
    * bytes ride after the header so payload sizes vary organically. */
  private def imageFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_image_fixtures") { base =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 25 === 0).select("doc_id", "text")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val tail =
            (if (r.isNullAt(1)) "" else r.getString(1)).getBytes("UTF-8")
          val (w, h) = ((id % 640 + 1).toInt, (id * 7 % 480 + 1).toInt)
          val (name, header) =
            if (id % 50 == 0) (s"asset_$id.jpg", Multimodal.MediaHeaders.jpeg(w, h))
            else (s"asset_$id.png", Multimodal.MediaHeaders.png(w, h))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base/$name"), header ++ tail)
        }
      base
    }

  // REAL image metadata decode end-to-end: binaryFile scan over planted
  // PNG/JPEG files → HeaderDecoder byte arithmetic → dimensions the
  // oracle re-derives from doc_id (the planting formula) — proving the
  // parser reads the actual header bytes, not a stub.
  private def mmDecodeImage(s: SparkSession, d: String): DataFrame = {
    implicit val sp: SparkSession = s
    Multimodal.decodeMeta(
        Multimodal.ingestBinary(s, imageFixtureDir(s, d)))
      .toDF()
      .orderBy("asset_id")
  }

  /** Plant REAL audio/video container files once per (session, dir):
    * every 25th doc becomes `asset_<id>.wav` (a canonical 44-byte PCM
    * header: sample rate 8/16/24 kHz by id%3, mono/stereo by id%7, data
    * size = the text byte length riding as fake samples) — MP4 for
    * every 50th (`ftyp`+`moov`/`mvhd`, timescale 600, duration ticks
    * id·31 % 360000 + 600). All parameters derive from doc_id, so the
    * DuckDB oracle recomputes sample rate, channels, and the integer
    * duration math from the planting formula. */
  private def avFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_av_fixtures") { base =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 25 === 0).select("doc_id", "text")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val tail =
            (if (r.isNullAt(1)) "" else r.getString(1)).getBytes("UTF-8")
          val (name, header) =
            if (id % 50 == 0)
              (s"asset_$id.mp4", Multimodal.MediaHeaders.mp4(
                600, ((id * 31) % 360000 + 600).toInt))
            else
              (s"asset_$id.wav", Multimodal.MediaHeaders.wav(
                8000 * ((id % 3) + 1).toInt, if (id % 7 < 3) 1 else 2,
                tail.length))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base/$name"), header ++ tail)
        }
      base
    }

  // REAL container metadata decode end-to-end: binaryFile scan over
  // planted WAV/MP4 files → RIFF chunk walk / ISO-BMFF box walk →
  // sample rate, channels, and integer duration the oracle re-derives
  // from the planting formula — proving the walkers read the actual
  // container bytes.
  private def mmDecodeAv(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeAv(
        Multimodal.ingestBinary(s, avFixtureDir(s, d)))
      .toDF()
      .orderBy("asset_id")

  /** Plant a binary fixture directory once per (session, dir): every
    * 25th document's UTF-8 bytes as `asset_<id>.<ext>` (ext from id%3,
    * matching [[Multimodal.assetsFromText]]'s type rule), plus a
    * byte-identical copy under id+Offset for every 50th — then the
    * ingest tier reads them back through the REAL `binaryFile` source.
    * The driver-side file writes here are fixture PLANTING only
    * (bounded at 4% of docs); the operators under test are fully
    * distributed. */
  private def binaryFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_binary_fixtures") { base =>
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", "mm_binary_ingest")
      val exts = Seq("mp4", "img", "wav")   // id%3 = video/image/audio
      docs.filter(col("doc_id") % 25 === 0).select("doc_id", "text")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val bytes = r.getString(1).getBytes("UTF-8")
          val ext = exts((id % 3).toInt)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base/asset_$id.$ext"), bytes)
          if (id % 50 == 0) java.nio.file.Files.write(
            java.nio.file.Paths.get(
              s"$base/asset_${id + Planting.Offset}.$ext"), bytes)
        }
      base
    }

  // The source side of the multimodal tier made real: opaque blobs in,
  // (id, type, payload) out, no decode at scan time.
  private def mmBinaryIngest(s: SparkSession, d: String): DataFrame =
    Multimodal.ingestBinary(s, binaryFixtureDir(s, d))
      .toDF()
      .select(col("asset_id"), col("media_type"),
        length(col("payload")).as("n_bytes"))
      .orderBy("asset_id")

  // Payload-identity media dedup over the ingested blobs: planted
  // copies (every 50th) collapse onto their originals; the oracle
  // groups by the SAME bytes via the text the fixtures were written
  // from, so the hash-and-verify grouping is proven collision-proof.
  private def mmDedupExact(s: SparkSession, d: String): DataFrame =
    Multimodal.dedupExactMedia(
        Multimodal.ingestBinary(s, binaryFixtureDir(s, d)))
      .orderBy("canonical_id")

  /** Plant PIXEL-REAL image files once per (session, dir) for the
    * perceptual-hash tier: every 25th doc is a "scene" — an 8×8 block
    * grid whose luma is md5-mixed from (doc_id, gx, gy)
    * ([[graft.multimodal.PixelCodec.sceneLuma]]) — rendered as a
    * 64×64 grayscale PNG. Selected scenes get byte-distinct,
    * pixel-equivalent variants at offset ids:
    *   +1·Offset (id%50):  resized   — the SAME scene at 32×32;
    *   +2·Offset (id%75):  re-encoded — filter-2 scanlines + a tEXt
    *                        metadata chunk (same pixels, new bytes);
    *   +3·Offset (id%100): format-converted — 24-bit BMP;
    *   +4·Offset (id%125): perturbed — cell (3,4) luma +16 mod 256
    *                        (≤2 dHash bits move: a NEAR duplicate);
    *   +6·Offset (id%150): RGBA — color type 6 with a planted alpha
    *                        ramp the luma decode must ignore;
    *   +7·Offset (id%225): odd-size — 44×52 (non-÷8: the bin-partition
    *                        resampler, not tile averaging);
    *   +8·Offset (id%275): RGB color — [[PixelCodec.colorize]]d
    *                        channels at 96×61 (luma-exact color AND
    *                        odd height; 275 shares no factor with the
    *                        other schedules, so these scenes cluster
    *                        from the color variant ALONE);
    *   +9·Offset (id%325): palette — indexed color (PLTE lookup; also
    *                        an only-variant family);
    *   +10·Offset (id%425): baseline JPEG — REAL DCT round trip
    *                        ([[graft.multimodal.JpegCodec]]): YCbCr
    *                        3-component, 2×2-subsampled chroma,
    *                        restart markers every 3 MCUs. Block-
    *                        constant scenes are DC-only under the unit
    *                        quant table, so the lossy codec is
    *                        bit-exact on this family (also an
    *                        only-variant family);
    *   +11·Offset (id%475): GIF — REAL LZW round trip
    *                        ([[graft.multimodal.GifCodec]]): colorized
    *                        palette, dictionary-growing LZW stream.
    *                        Lossless over the palette, so exact on any
    *                        content (also an only-variant family);
    *   +12·Offset (id%375): interlaced GIF — the 4-pass Appendix-E
    *                        row order written AND reversed (375 = 3·5³
    *                        shares %75/%125, so the scene clusters
    *                        regardless; this variant pins the
    *                        deinterlacer's pixels);
    *   +13·Offset (id%250): 16-bit grayscale PNG — samples v·257 (the
    *                        spec's exact 8→16 rescale), filter-1
    *                        scanlines at bpp 2; the high-byte decode
    *                        must land the scene exactly (250 = 2·5³
    *                        shares %50/%125 — members only, no new
    *                        clusters);
    *   +14·Offset (id%450): progressive JPEG — REAL SOF2 round trip
    *                        ([[graft.multimodal.JpegProgressive]]):
    *                        color, successive-approximation DC + AC
    *                        scans with refinement passes and EOB runs.
    *                        DC-only blocks reassemble exactly through
    *                        the approximation bits, so the lossy codec
    *                        stays bit-exact on this family (450 =
    *                        2·3²·5² shares %50/%75/%150/%225 — members
    *                        only, no new clusters);
    *   +15·Offset (id%350): Adam7-interlaced PNG — the 7-pass
    *                        independently-filtered sub-images
    *                        ([[PixelCodec.encodeAdam7Png]], one filter
    *                        type per pass) at an odd 52×45 size, so
    *                        pass dims differ and the bin-rule resample
    *                        must recover the scene exactly (350 =
    *                        2·5²·7 shares %50 — members only, no new
    *                        clusters);
    *   +16·Offset (id%500): baseline TIFF — REAL IFD/strip walk
    *                        ([[graft.multimodal.TiffCodec]]),
    *                        PackBits-compressed multi-strip layout:
    *                        grayscale little-endian for most,
    *                        colorized big-endian Deflate-compressed
    *                        (MM) for %1000,
    *                        WhiteIsZero inverted storage for the
    *                        %1500-not-%1000 ids (500 = 2²5³ shares
    *                        %50/%100/%125 — members only, no new
    *                        clusters);
    *   +17·Offset (id%200): lossless WebP — REAL RFC 9649 VP8L decode
    *                        ([[graft.multimodal.WebpCodec]]): gray
    *                        with the predictor transform at varying
    *                        tile sizes (modes cycle all 14 laws),
    *                        LZ77 + 2D distance map (200 = 2³5²
    *                        shares %50/%100 — members only);
    *   +18·Offset (id%300): lossless WebP, colorized — cross-color +
    *                        subtract-green transforms and an 8-bit
    *                        color cache over [[PixelCodec.colorize]]
    *                        pixels (BT.601-exact luma; 300 = 2²·3·5²
    *                        shares %50/%75/%100/%150 — members only);
    *   +19·Offset (id%400): LOSSY WebP — REAL RFC 6386 VP8 key frame
    *                        ([[graft.multimodal.Vp8Codec]]): boolean
    *                        arithmetic coding, B_DC_PRED subblocks
    *                        whose constant residuals ride single DC
    *                        tokens bit-exactly through the integer
    *                        IDCT (quantizer 4 at %800, multi-part
    *                        token layout and skip flags cycling by
    *                        id%3; 400 = 2⁴·5² shares %50/%100/%200 —
    *                        members only, no new clusters).
    * Block-constant tiles (and [[PixelCodec.renderGridSized]]'s
    * bin-rule coloring at odd sizes) make every rendering resample
    * exactly back to the scene grid, so expected hashes (and clusters)
    * are pure integer+md5 arithmetic the DuckDB oracle recomputes
    * verbatim. */
  private def pixelFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_pixel_fixtures") { base =>
      import graft.multimodal.PixelCodec
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", "mm_dedup_near")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/$name"), bytes)
      docs.filter(col("doc_id") % 25 === 0).select("doc_id")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val grid = PixelCodec.sceneGrid(id)
          put(s"asset_$id.png",
            PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64)))
          if (id % 50 == 0)
            put(s"asset_${id + Planting.Offset}.png",
              PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 32)))
          if (id % 75 == 0)
            put(s"asset_${id + 2 * Planting.Offset}.png",
              PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64),
                filterType = 2, textChunk = Some("re-encoded")))
          if (id % 100 == 0)
            put(s"asset_${id + 3 * Planting.Offset}.bmp",
              PixelCodec.encodeBmp24(PixelCodec.renderGrid(grid, 64)))
          if (id % 125 == 0) {
            val pert = grid.clone()
            pert(4 * 8 + 3) = (pert(4 * 8 + 3) + 16) % 256
            put(s"asset_${id + 4 * Planting.Offset}.png",
              PixelCodec.encodeGray8Png(PixelCodec.renderGrid(pert, 64)))
          }
          if (id % 150 == 0)
            put(s"asset_${id + 6 * Planting.Offset}.png",
              PixelCodec.encodeRgbaPng(PixelCodec.renderGrid(grid, 64),
                (id % 11).toInt))
          if (id % 225 == 0)
            put(s"asset_${id + 7 * Planting.Offset}.png",
              PixelCodec.encodeGray8Png(
                PixelCodec.renderGridSized(grid, 44, 52)))
          if (id % 275 == 0)
            put(s"asset_${id + 8 * Planting.Offset}.png",
              PixelCodec.encodeRgbPng(
                PixelCodec.renderGridSized(grid, 96, 61),
                salt = (id % 7).toInt, filterType = (id % 5).toInt))
          if (id % 325 == 0)
            put(s"asset_${id + 9 * Planting.Offset}.png",
              PixelCodec.encodePalettePng(PixelCodec.renderGrid(grid, 32)))
          if (id % 425 == 0)
            put(s"asset_${id + 10 * Planting.Offset}.jpg",
              graft.multimodal.JpegCodec.encodeJpeg(
                PixelCodec.renderGrid(grid, 64), color = true,
                ySampH = 2, ySampV = 2, restartInterval = 3))
          if (id % 475 == 0)
            put(s"asset_${id + 11 * Planting.Offset}.gif",
              graft.multimodal.GifCodec.encodeGif(
                PixelCodec.renderGrid(grid, 64), salt = (id % 5).toInt))
          if (id % 375 == 0)
            put(s"asset_${id + 12 * Planting.Offset}.gif",
              graft.multimodal.GifCodec.encodeGif(
                PixelCodec.renderGrid(grid, 64), salt = (id % 3).toInt,
                interlaced = true))
          if (id % 250 == 0)
            put(s"asset_${id + 13 * Planting.Offset}.png",
              PixelCodec.encodeGray16Png(
                PixelCodec.renderGrid(grid, 64), filterType = 1))
          if (id % 450 == 0)
            put(s"asset_${id + 14 * Planting.Offset}.jpg",
              graft.multimodal.JpegProgressive.encodeProgressive(
                PixelCodec.renderGrid(grid, 64), color = true,
                bandSplit = (id % 20 + 3).toInt))
          if (id % 350 == 0)
            put(s"asset_${id + 15 * Planting.Offset}.png",
              PixelCodec.encodeAdam7Png(
                PixelCodec.renderGridSized(grid, 52, 45)))
          if (id % 500 == 0)
            put(s"asset_${id + 16 * Planting.Offset}.tif",
              graft.multimodal.TiffCodec.encodeTiff(
                PixelCodec.renderGrid(grid, 64),
                rgbSalt = if (id % 1000 == 0) Some((id % 7).toInt) else None,
                littleEndian = id % 1000 != 0,
                packBitsComp = id % 1000 != 0,
                deflateComp = id % 1000 == 0, rowsPerStrip = 16,
                whiteIsZero = id % 1500 == 0 && id % 1000 != 0))
          if (id % 200 == 0)
            put(s"asset_${id + 17 * Planting.Offset}.webp",
              graft.multimodal.WebpEncoder.encodeWebp(
                PixelCodec.renderGrid(grid, 64), salt = (id % 13).toInt,
                predictorBits = 2 + (id % 4).toInt))
          if (id % 300 == 0)
            put(s"asset_${id + 18 * Planting.Offset}.webp",
              graft.multimodal.WebpEncoder.encodeWebp(
                PixelCodec.renderGrid(grid, 64), salt = (id % 9).toInt,
                color = true, crossColor = true, cacheBits = 8))
          if (id % 400 == 0)
            put(s"asset_${id + 19 * Planting.Offset}.webp",
              graft.multimodal.Vp8Encoder.encodeWebpLossy(
                PixelCodec.renderGrid(grid, 64),
                qi = if (id % 800 == 0) 4 else 0,
                nParts = 1 << (id % 3).toInt,
                skipFlags = id % 3 == 0,
                // %1200 rides 4-segment quantization (still exact)
                segmented = id % 1200 == 0))
          // corrupt variant (id%175, +5·Offset): a truncated PNG — the
          // IDAT stream cuts off mid-deflate, so pixel decode MUST
          // return None. Exercises the hostile-input path end-to-end:
          // mm_phash / mm_dedup_near / curate v8 all read the file and
          // must drop it (their oracles never enumerate this family).
          if (id % 175 == 0)
            put(s"asset_${id + 5 * Planting.Offset}.png",
              PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64))
                .take(60))
        }
      base
    }

  // Perceptual hashes end-to-end: binaryFile scan → REAL pixel decode
  // (PNG inflate + filter reversal / BMP walk) → exact 8×8 box average
  // → 64-bit dHash, surfaced LSB-first as a bit string (the comparator
  // cannot hash a value whose sign bit depends on engine integer
  // semantics; a '0'/'1' string is unambiguous). The oracle recomputes
  // every expected hash from the planting formula — md5 block luma +
  // gradient signs — so resized/re-encoded/BMP variants PROVE
  // hash-identical pixels and the perturbed variant's exact bits are
  // pinned too.
  private def mmPhash(s: SparkSession, d: String): DataFrame =
    imageFps(s, d)
      .select(col("asset_id"),
        reverse(lpad(bin(col("fp")), 64, "0")).as("phash_bits"))
      .orderBy("asset_id")

  // The dedup ∩ multimodal closure: byte-distinct pixel-near copies
  // (re-encode, resize, format conversion, slight perturbation) are
  // recovered into clusters via banded Hamming pairing + connected
  // components; the oracle enumerates expected clusters straight from
  // the planting schedule.
  private def mmDedupNear(s: SparkSession, d: String): DataFrame =
    Multimodal.nearDupClusters(imageFps(s, d)).orderBy("canonical_id")

  /** The pixel fixture corpus's dHash rows (mm_phash's projection). */
  private def imageFps(s: SparkSession, d: String): DataFrame =
    Multimodal.fingerprints(
      Multimodal.ingestBinary(s, pixelFixtureDir(s, d)), Multimodal.imageFp)

  /** Fixture plantings are one-time per (session, dir) — registered as
    * explicit build lines so single-shot bench numbers for the mm
    * queries reflect steady state (the files exist; only the scan +
    * decode + pairing is the query). */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(
      "mm_pixel_build"  -> ((s, d) => { pixelFixtureDir(s, d); () }),
      "mm_binary_build" -> ((s, d) => { binaryFixtureDir(s, d); () }),
      "mm_image_build"  -> ((s, d) => { imageFixtureDir(s, d); () }),
      "mm_av_build"     -> ((s, d) => { avFixtureDir(s, d); () }))

  /** Curate v8 — the image+text composition: [[curate]] over the pixel
    * fixture corpus (incl. its corrupt family), with mm_phash's decode
    * gate and mm_dedup_near's clusters. */
  private def pipelineCurateV8(s: SparkSession, d: String): DataFrame =
    curate(s, d, imageFps(s, d)).drop("n_frames")

  /** The keep-best curation composition of curate v8 (image), v9
    * (audio) and v10 (clip), every stage rule verbatim from its
    * per-operator oracle (the v1–v7 discipline on the multimodal tier):
    *   1. binary ingest and decode gate = the tier's fingerprint
    *      projection `fps` (asset_id, frame_no, fp): assets whose
    *      payload does not decode drop there, never throw; n_frames =
    *      the asset's fingerprinted frames (1 for a still or a stream);
    *   2. near-dup keep-best (the tier's near-dup clusters: keep the
    *      canonical = min member, count the dropped copies);
    *   3. caption quality gate (text_quality_gate's dials verbatim on
    *      the scene document's text — the caption or transcript of a
    *      real media+text corpus);
    *   4. mixture shard (export_shard_manifest's md5 shard rule).
    * Scale shape: decode is one projection over payloads, pinned by
    * the pairing and read again here; everything after shuffles
    * fingerprints and caption METRICS, never media bytes; the caption
    * join is by scene id against the quality projection. */
  private[queries] def curate(s: SparkSession, d: String,
      fps: DataFrame): DataFrame = {
    val labels = Multimodal.nearDupLabels(fps)
    val dropped = labels.groupBy(col("cluster_id").as("__cid"))
      .agg((count(lit(1)) - 1).as("n_dups_dropped"))
    val kept = fps.groupBy("asset_id")
      .agg((max(col("frame_no")) + 1).as("n_frames"))
      .join(labels.withColumnRenamed("id", "asset_id"),
        Seq("asset_id"), "left")
      .filter(col("cluster_id").isNull ||
        col("cluster_id") === col("asset_id"))
      .join(dropped, col("cluster_id") === col("__cid"), "left")
      .select(col("asset_id"), col("n_frames"),
        coalesce(col("n_dups_dropped"), lit(0L)).as("n_dups_dropped"),
        pmod(col("asset_id"), lit(Planting.Offset)).as("doc_id"))
    val captions = graft.text.TextAnalysis
      .qualityGate(Tables.documents(s, d))
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "keep")
    kept.join(captions, Seq("doc_id"))
      .filter(col("keep"))
      .select(col("asset_id"), col("doc_id"), col("n_frames"),
        col("n_dups_dropped"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"),
        graft.ops.Export.shardId(col("asset_id"), Shards).as("shard"))
      .orderBy("asset_id")
  }

  /** [[curate]]'s DuckDB oracle over a planted schedule `cte` with one
    * row per decodable asset (asset_id, scene): cluster sizes from the
    * variant schedule, the SHARED text_quality_gate metric/keep
    * fragments on the scene document, and the export shard rule. The
    * clip schedule's table is `clips` and carries each clip's frame
    * count `f` (the n_frames column); the others are `assets`. */
  private[queries] def curateOracle(cte: String, clips: Boolean)
      : String = {
    val (t, a, c) =
      if (clips) ("clips", "c", "cn") else ("assets", "a", "c")
    val nFrames =
      if (clips) s"CAST($a.f AS BIGINT) AS n_frames,\n" + " " * 17 else ""
    s"""WITH $cte,
          counts AS (SELECT scene, count(*) AS n FROM $t GROUP BY scene),
          ${OracleCtes.tokCte},
          ${OracleCtes.qualityMetricsCte}
          SELECT $a.asset_id, $a.scene AS doc_id,
                 ${nFrames}CAST($c.n - 1 AS BIGINT) AS n_dups_dropped,
                 q.n_words, q.mean_word_len, q.symbol_ratio,
                 ${graft.ops.Export.shardIdSql(s"$a.asset_id", 8)} AS shard
          FROM $t $a
          JOIN counts $c USING (scene)
          JOIN m q ON q.doc_id = $a.scene
          WHERE $a.asset_id = $a.scene
            AND ${OracleCtes.qualityKeepSql}
          ORDER BY $a.asset_id"""
  }

  private val Shards = 8

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curate_v8"   -> (pipelineCurateV8 _),
    "mm_phash"             -> (mmPhash _),
    "mm_dedup_near"        -> (mmDedupNear _),
    "mm_decode_meta"       -> (mmDecodeMeta _),
    "mm_decode_image"      -> (mmDecodeImage _),
    "mm_decode_av"         -> (mmDecodeAv _),
    "mm_binary_ingest"     -> (mmBinaryIngest _),
    "mm_dedup_exact"       -> (mmDedupExact _),
  )

  /** DuckDB rendering of [[graft.multimodal.PixelCodec.sceneLuma]]'s
    * first-md5-byte: per-hex-digit ascii arithmetic (DuckDB has no
    * hex→int cast — same trick as [[graft.functions.Md5Bucket]]). */
  private[queries] def hexByteSql(h: String): String = {
    def hd(i: Int) = s"(ascii(substr($h, $i, 1)) - " +
      s"CASE WHEN substr($h, $i, 1) >= 'a' THEN 87 ELSE 48 END)"
    s"(${hd(1)} * 16 + ${hd(2)})"
  }

  /** The planted perceptual-asset schedule as a DuckDB CTE pair
    * (shared by the mm_phash and mm_dedup_near oracles). */
  private val pixelAssetsCte: String =
    """d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
       assets AS (
         SELECT doc_id AS asset_id, doc_id AS scene, FALSE AS pert FROM d
         UNION ALL SELECT doc_id + 100000, doc_id, FALSE FROM d WHERE doc_id % 50 = 0
         UNION ALL SELECT doc_id + 200000, doc_id, FALSE FROM d WHERE doc_id % 75 = 0
         UNION ALL SELECT doc_id + 300000, doc_id, FALSE FROM d WHERE doc_id % 100 = 0
         UNION ALL SELECT doc_id + 400000, doc_id, TRUE  FROM d WHERE doc_id % 125 = 0
         UNION ALL SELECT doc_id + 600000, doc_id, FALSE FROM d WHERE doc_id % 150 = 0
         UNION ALL SELECT doc_id + 700000, doc_id, FALSE FROM d WHERE doc_id % 225 = 0
         UNION ALL SELECT doc_id + 800000, doc_id, FALSE FROM d WHERE doc_id % 275 = 0
         UNION ALL SELECT doc_id + 900000, doc_id, FALSE FROM d WHERE doc_id % 325 = 0
         UNION ALL SELECT doc_id + 1000000, doc_id, FALSE FROM d WHERE doc_id % 425 = 0
         UNION ALL SELECT doc_id + 1100000, doc_id, FALSE FROM d WHERE doc_id % 475 = 0
         UNION ALL SELECT doc_id + 1200000, doc_id, FALSE FROM d WHERE doc_id % 375 = 0
         UNION ALL SELECT doc_id + 1300000, doc_id, FALSE FROM d WHERE doc_id % 250 = 0
         UNION ALL SELECT doc_id + 1400000, doc_id, FALSE FROM d WHERE doc_id % 450 = 0
         UNION ALL SELECT doc_id + 1500000, doc_id, FALSE FROM d WHERE doc_id % 350 = 0
         UNION ALL SELECT doc_id + 1600000, doc_id, FALSE FROM d WHERE doc_id % 500 = 0
         UNION ALL SELECT doc_id + 1700000, doc_id, FALSE FROM d WHERE doc_id % 200 = 0
         UNION ALL SELECT doc_id + 1800000, doc_id, FALSE FROM d WHERE doc_id % 300 = 0
         UNION ALL SELECT doc_id + 1900000, doc_id, FALSE FROM d WHERE doc_id % 400 = 0)"""

  /** The dHash-recomputation tail over an `assets(asset_id, scene,
    * pert)` CTE: md5-mixed 8×8 block luma → horizontal gradient signs
    * (wrapping bx 7→0), LSB-first bit string. ONE rendering shared by
    * the mm_phash and mm_stream_admit oracles. */
  private[queries] val phashBitsTail: String =
    s"""g0 AS (
          SELECT a.asset_id, a.pert, t1.gx, t2.gy,
                 ${hexByteSql("md5(CAST(a.scene AS VARCHAR) || '_' || " +
                   "CAST(t1.gx AS VARCHAR) || '_' || CAST(t2.gy AS VARCHAR))")}
                   AS luma0
          FROM assets a, range(8) t1(gx), range(8) t2(gy)),
        g AS (
          SELECT asset_id, gx, gy,
                 CASE WHEN pert AND gx = 3 AND gy = 4
                      THEN (luma0 + 16) % 256 ELSE luma0 END AS luma
          FROM g0),
        bits AS (
          SELECT g1.asset_id, g1.gx, g1.gy,
                 CASE WHEN g2.luma > g1.luma THEN '1' ELSE '0' END AS bit
          FROM g g1 JOIN g g2 ON g1.asset_id = g2.asset_id
           AND g2.gy = g1.gy AND g2.gx = (g1.gx + 1) % 8)
        SELECT asset_id, string_agg(bit, '' ORDER BY gy, gx) AS phash_bits
        FROM bits GROUP BY asset_id ORDER BY asset_id"""

  val oracles: Map[String, String] = Map(

    // every stage rule re-expressed from its own per-operator oracle:
    // the asset schedule (decodables only — the corrupt family falls
    // at the decode gate), cluster sizes from the variant schedule,
    // the SHARED text_quality_gate metric/keep fragments on the scene
    // document, and the export shard rule
    "pipeline_curate_v8" -> curateOracle(pixelAssetsCte, clips = false),

    // recomputes every expected dHash from the planting formula:
    // md5-mixed 8x8 block luma -> horizontal gradient signs (wrapping
    // bx 7->0), LSB-first bit string. The resized / re-encoded / BMP
    // variants carry the SAME scene, so their rows prove the decode
    // paths land on identical pixels; the perturbed variant's exact
    // bits are pinned by the same arithmetic.
    "mm_phash" ->
      s"""WITH $pixelAssetsCte,
          $phashBitsTail""",

    // expected clusters fall straight out of the variant schedule: a
    // scene clusters iff it planted at least one variant (md5 mixing
    // keeps distinct scenes ~32 bits apart — far beyond maxDist=2 —
    // and the perturbed variant moves <=2 bits: within it). %100/%150/
    // %225 imply %50 or %75, so only %275, %325, %425, and %475 (the
    // only-variant color/palette/JPEG/GIF families) widen the
    // canonical-member condition; %375 (interlaced GIF) implies %75,
    // %250 (16-bit PNG) implies %50, %450 (progressive JPEG) implies
    // %50/%75, %350 (Adam7 PNG) implies %50, %500 (TIFF) implies
    // %50/%100/%125, the WebP lossless families %200/%300 imply %50
    // and %50/%75/%100/%150, and the LOSSY WebP family %400 implies
    // %50/%100/%200, so those add members, never new clusters.
    "mm_dedup_near" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         m AS (
           SELECT doc_id AS canonical_id, doc_id AS member FROM d
             WHERE doc_id % 50 = 0 OR doc_id % 75 = 0 OR doc_id % 125 = 0
                OR doc_id % 275 = 0 OR doc_id % 325 = 0 OR doc_id % 425 = 0
                OR doc_id % 475 = 0
           UNION ALL SELECT doc_id, doc_id + 100000 FROM d WHERE doc_id % 50 = 0
           UNION ALL SELECT doc_id, doc_id + 200000 FROM d WHERE doc_id % 75 = 0
           UNION ALL SELECT doc_id, doc_id + 300000 FROM d WHERE doc_id % 100 = 0
           UNION ALL SELECT doc_id, doc_id + 400000 FROM d WHERE doc_id % 125 = 0
           UNION ALL SELECT doc_id, doc_id + 600000 FROM d WHERE doc_id % 150 = 0
           UNION ALL SELECT doc_id, doc_id + 700000 FROM d WHERE doc_id % 225 = 0
           UNION ALL SELECT doc_id, doc_id + 800000 FROM d WHERE doc_id % 275 = 0
           UNION ALL SELECT doc_id, doc_id + 900000 FROM d WHERE doc_id % 325 = 0
           UNION ALL SELECT doc_id, doc_id + 1000000 FROM d WHERE doc_id % 425 = 0
           UNION ALL SELECT doc_id, doc_id + 1100000 FROM d WHERE doc_id % 475 = 0
           UNION ALL SELECT doc_id, doc_id + 1200000 FROM d WHERE doc_id % 375 = 0
           UNION ALL SELECT doc_id, doc_id + 1300000 FROM d WHERE doc_id % 250 = 0
           UNION ALL SELECT doc_id, doc_id + 1400000 FROM d WHERE doc_id % 450 = 0
           UNION ALL SELECT doc_id, doc_id + 1500000 FROM d WHERE doc_id % 350 = 0
           UNION ALL SELECT doc_id, doc_id + 1600000 FROM d WHERE doc_id % 500 = 0
           UNION ALL SELECT doc_id, doc_id + 1700000 FROM d WHERE doc_id % 200 = 0
           UNION ALL SELECT doc_id, doc_id + 1800000 FROM d WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id, doc_id + 1900000 FROM d WHERE doc_id % 400 = 0)
         SELECT canonical_id, count(*) AS n_members,
                string_agg(CAST(member AS VARCHAR), ',' ORDER BY member)
                  AS member_ids
         FROM m GROUP BY canonical_id ORDER BY canonical_id""",

    // both entries recompute the fixture set from documents (the same
    // planting rule that wrote the files), so the whole binaryFile
    // read-back path — path parsing, type mapping, payload bytes — is
    // hash-checked, not just row-counted
    "mm_binary_ingest" ->
      """WITH f AS (
           SELECT doc_id AS asset_id, doc_id AS src_id, text
           FROM documents WHERE doc_id % 25 = 0
           UNION ALL
           SELECT doc_id + 100000 AS asset_id, doc_id AS src_id, text
           FROM documents WHERE doc_id % 50 = 0)
         SELECT asset_id,
                CASE WHEN src_id % 3 = 0 THEN 'video'
                     WHEN src_id % 3 = 1 THEN 'image'
                     ELSE 'audio' END AS media_type,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes
         FROM f ORDER BY asset_id""",

    "mm_dedup_exact" ->
      """WITH f AS (
           SELECT doc_id AS asset_id, text
           FROM documents WHERE doc_id % 25 = 0
           UNION ALL
           SELECT doc_id + 100000 AS asset_id, text
           FROM documents WHERE doc_id % 50 = 0),
         g AS (SELECT min(asset_id) AS canonical_id,
                      CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                      count(*) AS n_copies,
                      array_to_string(list(CAST(asset_id AS VARCHAR)
                        ORDER BY asset_id), ',') AS member_ids
               FROM f GROUP BY text)
         SELECT canonical_id, n_bytes, n_copies, member_ids
         FROM g ORDER BY canonical_id""",

    // mirrors the imageFixtureDir planting formula: header bytes carry
    // width = id%640+1, height = id*7%480+1; n_bytes = header length
    // (33 PNG / 39 JPEG, MediaHeaders.*HeaderLen) + the text tail
    "mm_decode_image" ->
      """SELECT doc_id AS asset_id, 'image' AS media_type,
                CAST(CASE WHEN doc_id % 50 = 0 THEN 39 ELSE 33 END
                     + octet_length(encode(coalesce(text, ''))) AS INT)
                  AS n_bytes,
                CAST(doc_id % 640 + 1 AS INT) AS width,
                CAST(doc_id * 7 % 480 + 1 AS INT) AS height,
                CAST(1 AS INT) AS n_frames,
                CAST(1 AS INT) AS n_sampled_frames
         FROM documents WHERE doc_id % 25 = 0
         ORDER BY asset_id""",

    // mirrors the avFixtureDir planting formula: WAV duration is the
    // data size over the derived byte rate (rate · channels · 2),
    // MP4 duration is ticks·1000 // 600 — both integer divisions, so
    // the comparison is exact
    "mm_decode_av" ->
      """SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 50 = 0 THEN 'video'
                     ELSE 'audio' END AS media_type,
                CAST(CASE WHEN doc_id % 50 = 0 THEN 132 ELSE 44 END
                     + octet_length(encode(coalesce(text, ''))) AS INT)
                  AS n_bytes,
                CAST(CASE WHEN doc_id % 50 = 0 THEN 0
                     ELSE 8000 * (doc_id % 3 + 1) END AS INT)
                  AS sample_rate,
                CAST(CASE WHEN doc_id % 50 = 0 THEN 0
                     WHEN doc_id % 7 < 3 THEN 1 ELSE 2 END AS INT)
                  AS channels,
                CAST(CASE WHEN doc_id % 50 = 0
                     THEN (((doc_id * 31) % 360000 + 600) * 1000) // 600
                     ELSE (octet_length(encode(coalesce(text, ''))) * 1000)
                          // (8000 * (doc_id % 3 + 1)
                             * (CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 2 END)
                             * 2) END AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 25 = 0
         ORDER BY asset_id""",

    "mm_decode_meta" ->
      """SELECT doc_id AS asset_id,
                CASE WHEN doc_id % 3 = 0 THEN 'video'
                     WHEN doc_id % 3 = 1 THEN 'image'
                     ELSE 'audio' END AS media_type,
                CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
                CAST((octet_length(encode(text)) * 7) % 480 + 1 AS INT) AS height,
                CAST(CASE WHEN doc_id % 3 = 0
                          THEN octet_length(encode(text)) % 30 + 1
                          ELSE 1 END AS INT) AS n_frames,
                CAST((CASE WHEN doc_id % 3 = 0
                           THEN octet_length(encode(text)) % 30 + 1
                           ELSE 1 END + 4) // 5 AS INT) AS n_sampled_frames
         FROM documents ORDER BY asset_id"""
  )
}
