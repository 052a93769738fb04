package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** The AUDIO half of the multimodal perceptual tier, split from
  * [[MultimodalOps]] (which keeps the pixel/clip-byte families): the
  * PCM fixture corpus (WAV/FLAC/AIFF/24-bit/extensible + the MP3
  * digest families), the envelope fingerprint + near-dup queries,
  * the audio curate composition, and the MP3 exact-dedup tier —
  * with the shared DuckDB CTE fragments their oracles (and the
  * streamed audio admission oracle) recompute. */
object MultimodalAudioOps extends QueryModule {

  /** Plant SAMPLE-REAL audio files once per (session, dir) for the
    * audio-fingerprint tier — the audio analog of [[pixelFixtureDir]]:
    * every 25th doc is a "scene" — a 64-segment constant-amplitude
    * envelope md5-mixed from (doc_id, k)
    * ([[graft.multimodal.AudioCodec.segmentAmp]]) — rendered as 1600
    * mono 16-bit PCM samples at 8 kHz. Selected scenes get
    * byte-distinct, envelope-equivalent variants at offset ids:
    *   +1·Offset (id%50):  resampled — the SAME envelope at 2531
    *                        samples / 16 kHz (odd length: the bin
    *                        partition, not equal tiles);
    *   +2·Offset (id%75):  re-encoded — a LIST metadata chunk before
    *                        data (same samples, new bytes);
    *   +3·Offset (id%100): stereo — L=R duplicated frames, downmixed
    *                        exactly back by ⌊(l+r)/2⌋;
    *   +4·Offset (id%125): perturbed — segment 37 amp +512 (≤2
    *                        fingerprint bits move: a NEAR duplicate);
    *   +5·Offset (id%150): gain ×2 — exact doubling never reorders
    *                        strict comparisons;
    *   +6·Offset (id%175): corrupt — truncated mid-data (declared size
    *                        past the buffer: decode MUST return None);
    *   +7·Offset (id%200): FLAC — REAL lossless round trip
    *                        ([[graft.multimodal.FlacCodec]]: fixed-
    *                        predictor Rice frames, CRC-verified), so
    *                        the compressed container reaches the SAME
    *                        samples and envelope as its WAV twin (200
    *                        = 2³5² shares %50/%100 — members only, no
    *                        new clusters);
    *   +8·Offset (id%250): AIFF — the SAME samples in the big-endian
    *                        FORM/COMM/SSND container (80-bit extended
    *                        sample rate), a cross-container copy (250
    *                        = 2·5³ shares %50/%125 — members only);
    *   +9·Offset (id%300): 24-bit WAV — the samples ×256 (the exact
    *                        16→24 remaster): envelope scales ×256 and
    *                        gradient signs never reorder, the gain-
    *                        family argument at a new bit depth (300
    *                        shares %50/%75/%100/%150 — members only);
    *   +10·Offset (id%225): WAVE_FORMAT_EXTENSIBLE — the SAME samples
    *                        as L=R stereo behind the 0xFFFE fmt tag +
    *                        PCM GUID + channel mask (225 = 3²5²
    *                        shares %75 — members only);
    *   +11·Offset (id%275): MP3 — the documented DIGEST tier
    *                        ([[graft.multimodal.Mp3Codec]]): MPEG-1
    *                        Layer III frame grammar with
    *                        deterministic ascii content, 64 kbps for
    *                        even scenes / 96 for odd. NOT
    *                        PCM-decodable by contract (invisible to
    *                        the envelope oracles); surfaces via
    *                        mm_mp3_exact;
    *   +12·Offset (id%550): the RE-TAGGED MP3 twin — identical frames
    *                        wrapped in ID3v2 + ID3v1 tags AND a
    *                        LAME-style Xing VBR-header frame (all
    *                        metadata the digest excludes):
    *                        byte-distinct, the same fingerprint (the
    *                        canonical crawl MP3 duplicate; %550
    *                        implies %275 — its primary always exists);
    *   +13·Offset (id%1100): a truncated MP3 copy (cut mid-frame) —
    *                        digest MUST be None; never surfaces;
    *   +14·Offset (id%325): Ogg/Vorbis — the documented DIGEST tier
    *                        ([[graft.multimodal.OggCodec]]):
    *                        CRC-verified RFC 3533 pages around
    *                        deterministic ascii packets. NOT
    *                        PCM-decodable by contract; surfaces via
    *                        mm_ogg_exact;
    *   +15·Offset (id%650): the RE-PAGINATED Ogg twin — identical
    *                        packets, one per page with a mid-packet
    *                        255-continuation split: byte-distinct,
    *                        the same fingerprint (%650 implies %325);
    *   +16·Offset (id%1300): a truncated Ogg copy (EOS page cut) —
    *                        digest MUST be None; never surfaces;
    *   +17·Offset (id%425): Ogg/OPUS — the modern-crawl half of the
    *                        Ogg digest tier ([[graft.multimodal
    *                        .OggCodec]] RFC 7845 ident: OpusHead/
    *                        OpusTags headers excluded from content).
    *                        Surfaces via mm_opus_exact;
    *   +18·Offset (id%850): the MULTIPLEXED Opus twin — the SAME
    *                        audio stream grouped with a non-audio
    *                        metadata sibling stream (RFC 3533 §6
    *                        interleaved pages, BOS pages front-
    *                        loaded): byte-distinct, the same
    *                        fingerprint (%850 implies %425);
    *   +19·Offset (id%1700): a truncated Opus copy (EOS page cut) —
    *                        digest MUST be None; never surfaces;
    *   +20·Offset (id%375): AAC-in-MP4 (.m4a) — the audio-container
    *                        digest tier ([[graft.multimodal.AacCodec
    *                        .decodeM4aDigest]]: soun/mp4a sample-table
    *                        walk, esds chain, raw access units
    *                        digested). Surfaces via mm_m4a_exact;
    *   +21·Offset (id%750): the RE-MUXED m4a twin — identical access
    *                        units behind 3-sample chunks and a co64
    *                        offset table: byte-distinct, the same
    *                        fingerprint (%750 implies %375);
    *   +22·Offset (id%750): the ADTS (.aac) twin — the SAME units
    *                        behind 7-byte ADTS frame headers (the
    *                        cross-CONTAINER copy): same fingerprint;
    *   +23·Offset (id%1500): a truncated m4a (moov cut away) — digest
    *                        MUST be None; never surfaces;
    *   +24·Offset (id%475): a CHAINED Ogg/Vorbis file (RFC 3533
    *                        sequential multiplexing, two complete
    *                        links) — packets carry global indices,
    *                        so the digest is the links' ordered
    *                        concatenation. Surfaces via mm_ogg_exact;
    *   +25·Offset (id%950): the RE-PAGINATED chained twin — identical
    *                        packets in both links, different page
    *                        layout: byte-distinct, the same
    *                        fingerprint (%950 implies %475);
    *   +26·Offset (id%1900): a chained copy truncated mid-link-2 —
    *                        digest MUST be None; never surfaces;
    *   +27·Offset (id%750): the ID3-TAGGED ADTS twin — the SAME
    *                        units behind ADTS headers wrapped in
    *                        ID3v2 + ID3v1 tags (the re-tagged `.aac`
    *                        crawl duplicate; the MP3 walk-first-
    *                        strip-on-retry precedent): byte-distinct,
    *                        the same fingerprint as the %375 primary;
    *   +28·Offset (id%1500): the CRC-FORM ADTS twin — the SAME units
    *                        behind protection_absent=0 9-byte headers
    *                        (2 CRC bytes skipped-not-verified, the
    *                        MP3 CRC-slot precedent): byte-distinct,
    *                        the same fingerprint;
    *   +29·Offset (id%650): the COMMENT-REWRITTEN Vorbis twin — the
    *                        SAME packets under a rewritten comment
    *                        header (the vorbiscomment re-tag shape;
    *                        setup packets are excluded from content):
    *                        byte-distinct, the same fingerprint as
    *                        the %325 primary;
    *   +30·Offset (id%850): the RE-TAGGED Opus twin — the SAME
    *                        packets under a rewritten OpusTags vendor
    *                        string: byte-distinct, the same
    *                        fingerprint as the %425 primary;
    *   +31·Offset (id%550): an MPEG-2 Layer III MP3 @ 24 kHz — the
    *                        HALVED 72·br/sr frame-length rule, its
    *                        own primary (the V2 data length makes the
    *                        digests disjoint from the V1 family);
    *   +32·Offset (id%1100): the RE-TAGGED V2 twin (ID3v2+ID3v1
    *                        around identical frames): byte-distinct,
    *                        collapses onto the %550 V2 primary;
    *   +33·Offset (id%825): an MPEG-1 Layer I MP3 @ 32 kHz — the
    *                        (12·br/sr)·4 SLOT rule, its own primary;
    *   +34·Offset (id%1500): the MPEG-2-ID ADTS twin — the SAME
    *                        units behind headers with the ID bit set
    *                        (the MPEG-2 ADTS variant): byte-distinct,
    *                        the same fingerprint as the %375 primary;
    *   +35·Offset (id%450): Ogg-FLAC (.oga) — the xiph mapping
    *                        (`flac --ogg`): the 0x7F'FLAC' first
    *                        packet + a declared VORBIS_COMMENT
    *                        header packet, then audio frames. Rides
    *                        the same page-grammar walk; surfaces via
    *                        mm_oggflac_exact. (Native-FLAC files
    *                        stay in the REAL-PCM-decode tier —
    *                        different contract, so no cross-container
    *                        collapse is claimed between the two);
    *   +36·Offset (id%900): the RE-PAGINATED + RE-TAGGED Ogg-FLAC
    *                        twin — identical frames, one packet per
    *                        page with a 255-continuation split AND a
    *                        rewritten comment block (the metaflac
    *                        shape): byte-distinct, the same
    *                        fingerprint (%900 implies %450);
    *   +37·Offset (id%1800): a truncated Ogg-FLAC copy (EOS page
    *                        cut) — digest MUST be None; never
    *                        surfaces.
    * Constant segments make every rendering's energy envelope recover
    * the scene exactly, so expected fingerprints (and clusters) are
    * pure integer+md5 arithmetic the DuckDB oracle recomputes. */
  private def audioPcmFixtureDir(s: SparkSession, d: String): String =
    Fixture.dir(s, d, "mm_audio_pcm_fixtures") { base =>
      import graft.multimodal.AudioCodec
      val docs = Tables.documents(s, d)
      Planting.requireHeadroom(docs, "doc_id", "mm_audio_near")
      def put(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/$name"), bytes)
      docs.filter(col("doc_id") % 25 === 0).select("doc_id")
        .collect().foreach { r =>
          val id = r.getLong(0)
          val env = AudioCodec.sceneEnvelope(id)
          val mono = AudioCodec.renderEnvelope(env, 1600)
          put(s"asset_$id.wav", AudioCodec.encodeWav16(mono, 8000, 1))
          if (id % 50 == 0)
            put(s"asset_${id + Planting.Offset}.wav",
              AudioCodec.encodeWav16(
                AudioCodec.renderEnvelope(env, 2531), 16000, 1))
          if (id % 75 == 0)
            put(s"asset_${id + 2 * Planting.Offset}.wav",
              AudioCodec.encodeWav16(mono, 8000, 1, Some("re-encoded")))
          if (id % 100 == 0) {
            val st = new Array[Int](mono.length * 2)
            var i = 0
            while (i < mono.length) {
              st(i * 2) = mono(i); st(i * 2 + 1) = mono(i); i += 1
            }
            put(s"asset_${id + 3 * Planting.Offset}.wav",
              AudioCodec.encodeWav16(st, 8000, 2))
          }
          if (id % 125 == 0) {
            val p = env.clone(); p(37) += 512
            put(s"asset_${id + 4 * Planting.Offset}.wav",
              AudioCodec.encodeWav16(
                AudioCodec.renderEnvelope(p, 1600), 8000, 1))
          }
          if (id % 150 == 0)
            put(s"asset_${id + 5 * Planting.Offset}.wav",
              AudioCodec.encodeWav16(
                AudioCodec.renderEnvelope(env.map(_ * 2), 1600), 8000, 1))
          if (id % 175 == 0)
            put(s"asset_${id + 6 * Planting.Offset}.wav",
              AudioCodec.encodeWav16(mono, 8000, 1).take(300))
          if (id % 200 == 0)
            put(s"asset_${id + 7 * Planting.Offset}.flac",
              graft.multimodal.FlacCodec.encodeFlac16(mono, 8000, 1,
                blockSize = 256 + (id % 3).toInt * 128))
          if (id % 250 == 0)
            put(s"asset_${id + 8 * Planting.Offset}.aif",
              AudioCodec.encodeAiff16(mono, 8000, 1))
          if (id % 300 == 0)
            put(s"asset_${id + 9 * Planting.Offset}.wav",
              AudioCodec.encodeWav24(mono.map(_ * 256), 8000, 1))
          if (id % 225 == 0) {
            val st = new Array[Int](mono.length * 2)
            var i = 0
            while (i < mono.length) {
              st(i * 2) = mono(i); st(i * 2 + 1) = mono(i); i += 1
            }
            put(s"asset_${id + 10 * Planting.Offset}.wav",
              AudioCodec.encodeWav16Ext(st, 8000, 2))
          }
          // the MP3 digest-tier families (+11/+12/+13·Offset): MP3
          // payloads are NOT PCM-decodable here by the documented
          // contract (Mp3Codec), so they are invisible to the
          // envelope oracles and surface through mm_mp3_exact. The
          // %550 RE-TAGGED twin wraps the identical frames in ID3v2 +
          // ID3v1 tags AND a LAME-style Xing VBR-header frame — all
          // metadata, byte-distinct, the same fingerprint; the
          // %1100 truncated copy (cut mid-frame) must digest to None.
          if (id % 275 == 0) {
            // frame count from id/275 — a knob COPRIME to the planting
            // modulus (id%5 is always 0 for multiples of 275), so the
            // fixture corpus carries real multi-frame streams
            val nf = ((id / 275) % 5).toInt + 2
            val kb = if (id % 2 == 0) 64 else 96
            put(s"asset_${id + 11 * Planting.Offset}.mp3",
              graft.multimodal.Mp3Codec.encodeMp3(id, nf, kb))
            if (id % 550 == 0)
              put(s"asset_${id + 12 * Planting.Offset}.mp3",
                graft.multimodal.Mp3Codec.encodeMp3(id, nf, kb,
                  id3v2 = true, id3v1 = true, xingHeader = true))
            if (id % 1100 == 0) {
              val full = graft.multimodal.Mp3Codec.encodeMp3(id, nf, kb)
              put(s"asset_${id + 13 * Planting.Offset}.mp3",
                full.take(full.length - 100))
            }
          }
          // the VERSION/LAYER MP3 families (+31/+32/+33·Offset):
          // MPEG-2 Layer III (the halved 72·br/sr length rule, 24 kHz)
          // and MPEG-1 Layer I (the ×4 slot rule) — each family its
          // own primary (different data lengths ⇒ disjoint digests);
          // the %1100 re-tagged V2 twin collapses onto the %550 V2
          // primary. Frame counts from coprime id/550 and id/825.
          if (id % 550 == 0) {
            val n2 = ((id / 550) % 5).toInt + 2
            put(s"asset_${id + 31 * Planting.Offset}.mp3",
              graft.multimodal.Mp3Codec.encodeMp3(id, n2, 64,
                version = 20))
            if (id % 1100 == 0)
              put(s"asset_${id + 32 * Planting.Offset}.mp3",
                graft.multimodal.Mp3Codec.encodeMp3(id, n2, 64,
                  id3v2 = true, id3v1 = true, version = 20))
          }
          if (id % 825 == 0) {
            val n1 = ((id / 825) % 5).toInt + 2
            put(s"asset_${id + 33 * Planting.Offset}.mp3",
              graft.multimodal.Mp3Codec.encodeMp3(id, n1, 96,
                layer = 1))
          }
          // the Ogg/Vorbis digest-tier families (+14/+15/+16·Offset):
          // page-grammar walk with per-page CRC verification, packets
          // digested (pages are framing) — the %650 RE-PAGINATED twin
          // changes page layout (packets per page, a mid-packet
          // 255-continuation split) but not one packet byte, so its
          // fingerprint collapses onto the %325 primary; the %1300
          // truncated copy (EOS page cut away) must digest to None.
          if (id % 325 == 0) {
            val np = (id % 4).toInt + 2
            put(s"asset_${id + 14 * Planting.Offset}.ogg",
              graft.multimodal.OggCodec.encodeOgg(id, np,
                packetsPerPage = 2))
            if (id % 650 == 0) {
              put(s"asset_${id + 15 * Planting.Offset}.ogg",
                graft.multimodal.OggCodec.encodeOgg(id, np,
                  packetsPerPage = 1, splitAcrossPages = true))
              // the COMMENT-REWRITTEN twin: same packets, rewritten
              // comment header (setup packets are not content)
              put(s"asset_${id + 29 * Planting.Offset}.ogg",
                graft.multimodal.OggCodec.encodeOgg(id, np,
                  packetsPerPage = 2,
                  commentText = Some(s"ARTIST=retag-$id;YEAR=2026")))
            }
            if (id % 1300 == 0) {
              val full = graft.multimodal.OggCodec.encodeOgg(id, np,
                packetsPerPage = 2)
              put(s"asset_${id + 16 * Planting.Offset}.ogg",
                full.take(full.length - 80))
            }
          }
          // the Ogg/OPUS digest-tier families (+17/+18/+19·Offset):
          // the same page-grammar walk behind an RFC 7845 ident
          // (OpusHead/OpusTags are setup, excluded from content). The
          // %850 MULTIPLEXED twin re-muxes the identical audio stream
          // beside a non-audio metadata sibling (grouped pages, BOS
          // section front-loaded), so its fingerprint collapses onto
          // the %425 primary; the %1700 truncated copy (EOS page cut
          // away) must digest to None. Packet count from id/425 — a
          // knob coprime to the planting modulus.
          if (id % 425 == 0) {
            val np = ((id / 425) % 4).toInt + 2
            put(s"asset_${id + 17 * Planting.Offset}.opus",
              graft.multimodal.OggCodec.encodeOpus(id, np,
                packetsPerPage = 2))
            if (id % 850 == 0) {
              put(s"asset_${id + 18 * Planting.Offset}.opus",
                graft.multimodal.OggCodec.encodeOpusMultiplexed(id, np))
              // the RE-TAGGED twin: same packets, rewritten OpusTags
              put(s"asset_${id + 30 * Planting.Offset}.opus",
                graft.multimodal.OggCodec.encodeOpus(id, np,
                  vendorText = Some(s"opustags-rewrite-$id")))
            }
            if (id % 1700 == 0) {
              val full = graft.multimodal.OggCodec.encodeOpus(id, np,
                packetsPerPage = 2)
              put(s"asset_${id + 19 * Planting.Offset}.opus",
                full.take(full.length - 80))
            }
          }
          // the Ogg-FLAC digest-tier families (+35/+36/+37·Offset):
          // the xiph FLAC-in-Ogg mapping riding the same CRC-verified
          // page walk — the %900 twin re-paginates AND re-tags the
          // identical frames (metadata blocks are excluded from
          // content), so its fingerprint collapses onto the %450
          // primary; the %1800 truncated copy must digest to None.
          // Packet count from id/450 — coprime to the modulus.
          if (id % 450 == 0) {
            val np = ((id / 450) % 4).toInt + 2
            put(s"asset_${id + 35 * Planting.Offset}.oga",
              graft.multimodal.OggCodec.encodeOggFlac(id, np,
                packetsPerPage = 2))
            if (id % 900 == 0)
              put(s"asset_${id + 36 * Planting.Offset}.oga",
                graft.multimodal.OggCodec.encodeOggFlac(id, np,
                  packetsPerPage = 1, splitAcrossPages = true,
                  commentText = Some(s"metaflac-retag-$id")))
            if (id % 1800 == 0) {
              val full = graft.multimodal.OggCodec.encodeOggFlac(id, np,
                packetsPerPage = 2)
              put(s"asset_${id + 37 * Planting.Offset}.oga",
                full.take(full.length - 80))
            }
          }
          // the AAC digest-tier families (+20/+21/+22/+23·Offset):
          // raw access units digested out of either container form.
          // The %750 twins re-frame the identical units — one as a
          // re-muxed m4a (3-sample chunks, co64), one as an ADTS
          // .aac — so both fingerprints collapse onto the %375
          // primary; the %1500 truncated copy (moov cut away) must
          // digest to None. Unit count from id/375 — coprime knob.
          if (id % 375 == 0) {
            val nu = ((id / 375) % 4).toInt + 2
            put(s"asset_${id + 20 * Planting.Offset}.m4a",
              graft.multimodal.AacCodec.encodeAacM4a(id, nu,
                chunkSize = 2))
            if (id % 750 == 0) {
              put(s"asset_${id + 21 * Planting.Offset}.m4a",
                graft.multimodal.AacCodec.encodeAacM4a(id, nu,
                  chunkSize = 3, useCo64 = true))
              put(s"asset_${id + 22 * Planting.Offset}.aac",
                graft.multimodal.AacCodec.encodeAacAdts(id, nu))
              // the ID3-TAGGED ADTS twin: identical units, ID3v2 +
              // ID3v1 wrapping — metadata the digest must ignore
              put(s"asset_${id + 27 * Planting.Offset}.aac",
                graft.multimodal.AacCodec.encodeAacAdts(id, nu,
                  id3v2 = true, id3v1 = true))
            }
            if (id % 1500 == 0) {
              val full = graft.multimodal.AacCodec.encodeAacM4a(id, nu)
              put(s"asset_${id + 23 * Planting.Offset}.m4a",
                full.take(full.length / 2))
              // the CRC-form ADTS twin: 9-byte headers, same units
              put(s"asset_${id + 28 * Planting.Offset}.aac",
                graft.multimodal.AacCodec.encodeAacAdts(id, nu,
                  crc = true))
              // the MPEG-2-ID ADTS twin: ID bit set, same units
              put(s"asset_${id + 34 * Planting.Offset}.aac",
                graft.multimodal.AacCodec.encodeAacAdts(id, nu,
                  mpeg2Id = true))
            }
          }
          // the CHAINED Ogg families (+24/+25/+26·Offset): two
          // complete Vorbis links back-to-back (link 1 carries
          // ((id/475)%3)+2 packets, link 2 two more, global indices).
          // The %950 re-paginated twin keeps both links' packets and
          // changes only page layout — same fingerprint; the %1900
          // copy truncated mid-link-2 must digest to None.
          if (id % 475 == 0) {
            val counts = Seq(((id / 475) % 3).toInt + 2, 2)
            put(s"asset_${id + 24 * Planting.Offset}.ogg",
              graft.multimodal.OggCodec.encodeOggChained(id, counts))
            if (id % 950 == 0)
              put(s"asset_${id + 25 * Planting.Offset}.ogg",
                graft.multimodal.OggCodec.encodeOggChained(id, counts,
                  packetsPerPage = 1, splitAcrossPages = true))
            if (id % 1900 == 0) {
              val full = graft.multimodal.OggCodec
                .encodeOggChained(id, counts)
              put(s"asset_${id + 26 * Planting.Offset}.ogg",
                full.take(full.length - 50))
            }
          }
        }
      base
    }

  // The Ogg digest tier end-to-end: binary ingest → the documented
  // no-PCM-synthesis contract (OggCodec.decodeOggDigest: CRC-verified
  // page walk, packet reassembly, Vorbis ident metadata; the three
  // header packets are setup, not content) → exact stream dedup by
  // fingerprint. The %650 re-paginated twins MUST collapse onto their
  // %325 primaries; the truncated %1300 copies never surface.
  private def mmOggExact(s: SparkSession, d: String): DataFrame =
    oggTier(s, d, "vorbis")

  // The Opus half of the Ogg digest tier: the %850 MULTIPLEXED twins
  // (same audio stream grouped beside a metadata sibling) MUST
  // collapse onto their %425 primaries; truncated %1700 copies never
  // surface.
  private def mmOpusExact(s: SparkSession, d: String): DataFrame =
    oggTier(s, d, "opus")

  // The FLAC half of the Ogg digest tier (the xiph `flac --ogg`
  // mapping): the %900 RE-PAGINATED + RE-TAGGED twins (identical
  // frames, rewritten VORBIS_COMMENT block, different page layout)
  // MUST collapse onto their %450 primaries; truncated %1800 copies
  // never surface. Native-FLAC files are deliberately NOT in this
  // tier — they take the REAL-PCM-decode path (FlacCodec), a
  // different contract, so no cross-container collapse is claimed.
  private def mmOggFlacExact(s: SparkSession, d: String): DataFrame =
    oggTier(s, d, "flac")

  // The AAC digest tier end-to-end: binary ingest → either container
  // walk (M4A sample tables / ADTS tiling) down to the same raw
  // access units → exact stream dedup by fingerprint. BOTH %750
  // twins (re-muxed m4a with co64; ADTS re-wrap) MUST collapse onto
  // their %375 primaries; truncated %1500 copies never surface.
  private def mmM4aExact(s: SparkSession, d: String): DataFrame = {
    val digests = Multimodal.aacStreamDigests(
      Multimodal.ingestBinary(s, audioPcmFixtureDir(s, d)))
    val canon = digests.groupBy("audio_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("audio_fp"))
      .select(col("asset_id"), col("n_samples"), col("sample_rate"),
        col("channels"), col("audio_fp"), col("canonical_id"))
      .orderBy("asset_id")
  }

  private def oggTier(s: SparkSession, d: String,
      codec: String): DataFrame = {
    val digests = Multimodal.oggStreamDigests(
        Multimodal.ingestBinary(s, audioPcmFixtureDir(s, d)))
      .filter(col("codec") === codec)
    val canon = digests.groupBy("audio_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("audio_fp"))
      .select(col("asset_id"), col("n_packets"), col("sample_rate"),
        col("channels"), col("audio_fp"), col("canonical_id"))
      .orderBy("asset_id")
  }


  // Audio fingerprints end-to-end: binaryFile scan → REAL PCM decode
  // (RIFF walk, 16-bit LE samples, stereo downmix) → 64-bin energy
  // envelope → gradient fingerprint, surfaced LSB-first as a bit
  // string (same comparator rationale as mm_phash). The oracle
  // recomputes every expected fingerprint from the planting formula.
  private def mmAudioFp(s: SparkSession, d: String): DataFrame =
    audioFps(s, d)
      .select(col("asset_id"),
        reverse(lpad(bin(col("fp")), 64, "0")).as("afp_bits"))
      .orderBy("asset_id")

  // The dedup ∩ audio closure: byte-distinct envelope-near copies
  // (re-encode, resample, channel conversion, gain, slight perturb)
  // recovered into clusters; the oracle enumerates expected clusters
  // straight from the planting schedule.
  private def mmAudioNear(s: SparkSession, d: String): DataFrame =
    Multimodal.nearDupClusters(audioFps(s, d)).orderBy("canonical_id")

  /** The PCM fixture corpus's envelope fingerprints (mm_audio_fp's
    * projection). */
  private def audioFps(s: SparkSession, d: String): DataFrame =
    Multimodal.fingerprints(
      Multimodal.ingestBinary(s, audioPcmFixtureDir(s, d)),
      Multimodal.audioFp)

  /** Fixture planting is one-time per (session, dir) — an explicit
    * build line, like the other mm fixture dirs. */
  override val benchBuilds: Map[String, (SparkSession, String) => Unit] =
    Map(

      "mm_audio_build"  -> ((s, d) => { audioPcmFixtureDir(s, d); () }))

  /** Curate v9 — the audio+text composition: [[MultimodalOps.curate]]
    * over the PCM fixture corpus (incl. its corrupt family), with
    * mm_audio_fp's decode gate and mm_audio_near's clusters. */
  private def pipelineCurateV9(s: SparkSession, d: String): DataFrame =
    MultimodalOps.curate(s, d, audioFps(s, d)).drop("n_frames")

  // The MP3 digest tier end-to-end: binary ingest over the audio
  // fixture corpus → the documented no-PCM-synthesis contract
  // (Mp3Codec.decodeMp3Digest: strict frame tiling, tags excluded
  // from content) → exact stream dedup by fingerprint. The %550
  // re-tagged twins MUST collapse onto their %275 primaries; the
  // truncated %1100 copies never surface. Scale: one projection,
  // fingerprint-keyed dedup — audio bytes never shuffle.
  private def mmMp3Exact(s: SparkSession, d: String): DataFrame = {
    val digests = Multimodal.mp3StreamDigests(
      Multimodal.ingestBinary(s, audioPcmFixtureDir(s, d)))
    val canon = digests.groupBy("audio_fp")
      .agg(min(col("asset_id")).as("canonical_id"))
    digests.join(canon, Seq("audio_fp"))
      .select(col("asset_id"), col("n_frames"), col("sample_rate"),
        col("kbps"), col("channels"), col("audio_fp"),
        col("canonical_id"))
      .orderBy("asset_id")
  }

  /** The planted audio-asset schedule as a DuckDB CTE pair (shared by
    * the mm_audio_fp and pipeline_curate_v9 oracles) — decodable
    * variants only: the %175 corrupt family (truncated mid-data)
    * falls at the decode gate and never reaches any result. */
  private val audioAssetsCte: String =
    """d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
       assets AS (
         SELECT doc_id AS asset_id, doc_id AS scene, FALSE AS pert FROM d
         UNION ALL SELECT doc_id + 100000, doc_id, FALSE FROM d WHERE doc_id % 50 = 0
         UNION ALL SELECT doc_id + 200000, doc_id, FALSE FROM d WHERE doc_id % 75 = 0
         UNION ALL SELECT doc_id + 300000, doc_id, FALSE FROM d WHERE doc_id % 100 = 0
         UNION ALL SELECT doc_id + 400000, doc_id, TRUE  FROM d WHERE doc_id % 125 = 0
         UNION ALL SELECT doc_id + 500000, doc_id, FALSE FROM d WHERE doc_id % 150 = 0
         UNION ALL SELECT doc_id + 700000, doc_id, FALSE FROM d WHERE doc_id % 200 = 0
         UNION ALL SELECT doc_id + 800000, doc_id, FALSE FROM d WHERE doc_id % 250 = 0
         UNION ALL SELECT doc_id + 900000, doc_id, FALSE FROM d WHERE doc_id % 300 = 0
         UNION ALL SELECT doc_id + 1000000, doc_id, FALSE FROM d WHERE doc_id % 225 = 0)"""

  /** The audio-fingerprint tail over an `assets(asset_id, scene, pert)`
    * CTE: md5-mixed 64-segment amplitudes (+512 on segment 37 when
    * perturbed) → gradient signs wrapping 63→0, LSB-first bit string.
    * Shared by the mm_audio_fp and mm_audio_stream_admit oracles. The
    * gain-×2 family needs no case of its own: exact doubling never
    * reorders strict comparisons, so unscaled amps yield its exact
    * bits too. */
  private[queries] val afpBitsTail: String =
    s"""e AS (
          SELECT a.asset_id, t.k,
                 ${MultimodalOps.hexByteSql("md5('a' || CAST(a.scene AS VARCHAR) || " +
                   "'_' || CAST(t.k AS VARCHAR))")} * 64
                 + CASE WHEN a.pert AND t.k = 37 THEN 512 ELSE 0 END
                   AS amp
          FROM assets a, range(64) t(k)),
        bits AS (
          SELECT e1.asset_id, e1.k,
                 CASE WHEN e2.amp > e1.amp THEN '1' ELSE '0' END AS bit
          FROM e e1 JOIN e e2 ON e1.asset_id = e2.asset_id
           AND e2.k = (e1.k + 1) % 64)
        SELECT asset_id, string_agg(bit, '' ORDER BY k) AS afp_bits
        FROM bits GROUP BY asset_id ORDER BY asset_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_curate_v9"   -> (pipelineCurateV9 _),
    "mm_audio_fp"          -> (mmAudioFp _),
    "mm_audio_near"        -> (mmAudioNear _),
    "mm_mp3_exact"         -> (mmMp3Exact _),
    "mm_ogg_exact"         -> (mmOggExact _),
    "mm_opus_exact"        -> (mmOpusExact _),
    "mm_oggflac_exact"     -> (mmOggFlacExact _),
    "mm_m4a_exact"         -> (mmM4aExact _),
  )

  val oracles: Map[String, String] = Map(

    // recomputes every expected Ogg stream digest from the planting
    // formula: packet k's payload is "ogg:{scene}:{k}:" ||
    // md5("g{scene}_{k}") dot-padded to 300 bytes; the per-packet
    // digest is md5 of that payload, the stream fingerprint md5 of
    // the ordered digest string. The %650 re-paginated twin (one
    // packet per page + a mid-packet 255-continuation split around
    // the same packets) recomputes to the SAME fingerprint — pages
    // are framing, excluded from content by the tier contract — so
    // its canonical_id is the %325 primary; truncated %1300 copies
    // (EOS page cut) never appear.
    "mm_ogg_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         ogg AS (
           SELECT doc_id + 1400000 AS asset_id, doc_id AS scene,
                  (doc_id % 4) + 2 AS np FROM d
             WHERE doc_id % 325 = 0
           UNION ALL SELECT doc_id + 1500000, doc_id, (doc_id % 4) + 2
             FROM d WHERE doc_id % 650 = 0
           -- the comment-rewritten twin: setup packets aren't content
           UNION ALL SELECT doc_id + 2900000, doc_id, (doc_id % 4) + 2
             FROM d WHERE doc_id % 650 = 0
           -- the CHAINED families: two links whose packets carry
           -- global indices, so the digest run is one range of
           -- ((scene // 475) % 3) + 2 + 2 packets
           UNION ALL SELECT doc_id + 2400000, doc_id,
             ((doc_id // 475) % 3) + 4 FROM d WHERE doc_id % 475 = 0
           UNION ALL SELECT doc_id + 2500000, doc_id,
             ((doc_id // 475) % 3) + 4 FROM d WHERE doc_id % 950 = 0),
         pk AS (
           SELECT a.asset_id, a.scene, t.k,
                  md5(rpad('ogg:' || CAST(a.scene AS VARCHAR) || ':' ||
                           CAST(t.k AS VARCHAR) || ':' ||
                           md5('g' || CAST(a.scene AS VARCHAR) || '_' ||
                               CAST(t.k AS VARCHAR)),
                           300, '.')) AS dig
           FROM ogg a, range(7) t(k) WHERE t.k < a.np),
         st AS (
           SELECT asset_id, count(*) AS n_packets,
                  md5(string_agg(dig, '' ORDER BY k)) AS audio_fp
           FROM pk GROUP BY asset_id)
         SELECT s.asset_id, s.n_packets,
                CAST(8000 AS BIGINT) AS sample_rate,
                CAST(1 AS BIGINT) AS channels, s.audio_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.audio_fp = s.audio_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // recomputes every expected AAC stream digest from the planting
    // formula: unit k is "aac:{scene}:{k}:" || md5("c{scene}_{k}")
    // dot-padded to 200 bytes, unit count ((scene // 375) % 4) + 2.
    // All FIVE container forms of a scene — the m4a primary, the
    // re-muxed co64 m4a, the ADTS .aac, the ID3-tagged .aac, and the
    // CRC-form .aac — digest the identical raw units (container
    // framing, ID3 metadata, and the skipped CRC slot all excluded
    // by contract), so every twin's canonical_id is the %375
    // primary; truncated %1500 copies never appear.
    "mm_m4a_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         aac AS (
           SELECT doc_id + 2000000 AS asset_id, doc_id AS scene FROM d
             WHERE doc_id % 375 = 0
           UNION ALL SELECT doc_id + 2100000, doc_id FROM d
             WHERE doc_id % 750 = 0
           UNION ALL SELECT doc_id + 2200000, doc_id FROM d
             WHERE doc_id % 750 = 0
           -- the ID3-tagged ADTS twin: tags are metadata, same units
           UNION ALL SELECT doc_id + 2700000, doc_id FROM d
             WHERE doc_id % 750 = 0
           -- the CRC-form ADTS twin: the 9-byte-header framing
           UNION ALL SELECT doc_id + 2800000, doc_id FROM d
             WHERE doc_id % 1500 = 0
           -- the MPEG-2-ID ADTS twin: the ID bit is framing
           UNION ALL SELECT doc_id + 3400000, doc_id FROM d
             WHERE doc_id % 1500 = 0),
         un AS (
           SELECT a.asset_id, a.scene, t.k,
                  md5(rpad('aac:' || CAST(a.scene AS VARCHAR) || ':' ||
                           CAST(t.k AS VARCHAR) || ':' ||
                           md5('c' || CAST(a.scene AS VARCHAR) || '_' ||
                               CAST(t.k AS VARCHAR)),
                           200, '.')) AS dig
           FROM aac a, range(5) t(k)
           WHERE t.k < ((a.scene // 375) % 4) + 2),
         st AS (
           SELECT asset_id, count(*) AS n_samples,
                  md5(string_agg(dig, '' ORDER BY k)) AS audio_fp
           FROM un GROUP BY asset_id)
         SELECT s.asset_id, s.n_samples,
                CAST(44100 AS BIGINT) AS sample_rate,
                CAST(2 AS BIGINT) AS channels, s.audio_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.audio_fp = s.audio_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // the FLAC third of the Ogg digest tier's oracle: packet k's
    // payload is "flac:{scene}:{k}:" || md5("f{scene}_{k}")
    // dot-padded to 300 bytes, packet count ((scene // 450) % 4) + 2.
    // The %900 re-paginated + re-tagged twin (identical frames under
    // a rewritten VORBIS_COMMENT block and a different page layout)
    // recomputes to the SAME fingerprint — pages AND metadata blocks
    // are excluded from content by the tier contract — so its
    // canonical_id is the %450 primary; truncated %1800 copies (EOS
    // page cut) never appear.
    "mm_oggflac_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         fl AS (
           SELECT doc_id + 3500000 AS asset_id, doc_id AS scene FROM d
             WHERE doc_id % 450 = 0
           UNION ALL SELECT doc_id + 3600000, doc_id FROM d
             WHERE doc_id % 900 = 0),
         pk AS (
           SELECT a.asset_id, a.scene, t.k,
                  md5(rpad('flac:' || CAST(a.scene AS VARCHAR) || ':' ||
                           CAST(t.k AS VARCHAR) || ':' ||
                           md5('f' || CAST(a.scene AS VARCHAR) || '_' ||
                               CAST(t.k AS VARCHAR)),
                           300, '.')) AS dig
           FROM fl a, range(7) t(k)
           WHERE t.k < ((a.scene // 450) % 4) + 2),
         st AS (
           SELECT asset_id, count(*) AS n_packets,
                  md5(string_agg(dig, '' ORDER BY k)) AS audio_fp
           FROM pk GROUP BY asset_id)
         SELECT s.asset_id, s.n_packets,
                CAST(44100 AS BIGINT) AS sample_rate,
                CAST(2 AS BIGINT) AS channels, s.audio_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.audio_fp = s.audio_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // the Opus twin of the mm_ogg_exact oracle: packet k's payload is
    // "opus:{scene}:{k}:" || md5("o{scene}_{k}") dot-padded to 300
    // bytes, packet count ((scene // 425) % 4) + 2. The %850
    // MULTIPLEXED twin (the same audio stream grouped with a metadata
    // sibling — interleaved pages, front-loaded BOS section)
    // recomputes to the SAME fingerprint — sibling streams and page
    // framing are both excluded from content by the tier contract —
    // so its canonical_id is the %425 primary; truncated %1700
    // copies (EOS page cut) never appear.
    "mm_opus_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         op AS (
           SELECT doc_id + 1700000 AS asset_id, doc_id AS scene FROM d
             WHERE doc_id % 425 = 0
           UNION ALL SELECT doc_id + 1800000, doc_id FROM d
             WHERE doc_id % 850 = 0
           -- the re-tagged twin: OpusTags is setup, not content
           UNION ALL SELECT doc_id + 3000000, doc_id FROM d
             WHERE doc_id % 850 = 0),
         pk AS (
           SELECT a.asset_id, a.scene, t.k,
                  md5(rpad('opus:' || CAST(a.scene AS VARCHAR) || ':' ||
                           CAST(t.k AS VARCHAR) || ':' ||
                           md5('o' || CAST(a.scene AS VARCHAR) || '_' ||
                               CAST(t.k AS VARCHAR)),
                           300, '.')) AS dig
           FROM op a, range(5) t(k)
           WHERE t.k < ((a.scene // 425) % 4) + 2),
         st AS (
           SELECT asset_id, count(*) AS n_packets,
                  md5(string_agg(dig, '' ORDER BY k)) AS audio_fp
           FROM pk GROUP BY asset_id)
         SELECT s.asset_id, s.n_packets,
                CAST(48000 AS BIGINT) AS sample_rate,
                CAST(2 AS BIGINT) AS channels, s.audio_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.audio_fp = s.audio_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // recomputes every expected audio fingerprint from the planting
    // formula — amp(scene,k) = 64 * first md5 byte of "a{scene}_{k}"
    // (AudioCodec.segmentAmp), +512 on segment 37 for the perturbed
    // family — then the gradient rule: bit k = (amp(k+1 mod 64) >
    // amp(k)), LSB-first bit string. The resampled / re-encoded /
    // stereo variants carry the SAME envelope, so their rows prove the
    // RIFF walk, bin partition, and downmix land on identical
    // envelopes; the gain-x2 family needs no case of its own because
    // exact doubling never reorders strict comparisons — the unscaled
    // amps yield its exact bits too.
    "mm_audio_fp" ->
      s"""WITH $audioAssetsCte,
          $afpBitsTail""",

    // recomputes every expected MP3 stream digest from the planting
    // formula: frame k's data is "mp3:{scene}:{k}:" || md5("m{scene}_
    // {k}") dot-padded to the CBR frame's data length (284 at 64 kbps
    // for even scenes, 428 at 96 kbps for odd — 32 kHz MPEG-1 Layer
    // III, no padding drift); the per-frame digest is md5 of that
    // data, the stream fingerprint md5 of the ordered digest string.
    // The %550 re-tagged twin (ID3v2 + ID3v1 around identical frames)
    // recomputes to the SAME fingerprint — tags are excluded from
    // content by the tier contract — so its canonical_id is the %275
    // primary; the truncated %1100 copies never appear.
    "mm_mp3_exact" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         mp3 AS (
           -- (dlen, sr, kb, m) per family: V1-L3 frame data lengths
           -- 284/428 by scene parity; the V2-L3 families at the
           -- HALVED length (192-4=188, 24 kHz); the V1-L1 family at
           -- the slot-rule length (144-4=140... 96 kbps: (12*96000/
           -- 32000)*4-4 = 140); frame counts from the coprime knobs
           SELECT doc_id + 1100000 AS asset_id, doc_id AS scene,
                  CASE WHEN doc_id % 2 = 0 THEN 284 ELSE 428 END
                    AS dlen, 32000 AS sr,
                  CASE WHEN doc_id % 2 = 0 THEN 64 ELSE 96 END AS kb,
                  275 AS m FROM d WHERE doc_id % 275 = 0
           UNION ALL SELECT doc_id + 1200000, doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN 284 ELSE 428 END,
                  32000,
                  CASE WHEN doc_id % 2 = 0 THEN 64 ELSE 96 END, 275
             FROM d WHERE doc_id % 550 = 0
           UNION ALL SELECT doc_id + 3100000, doc_id, 188, 24000, 64,
                  550 FROM d WHERE doc_id % 550 = 0
           UNION ALL SELECT doc_id + 3200000, doc_id, 188, 24000, 64,
                  550 FROM d WHERE doc_id % 1100 = 0
           UNION ALL SELECT doc_id + 3300000, doc_id, 140, 32000, 96,
                  825 FROM d WHERE doc_id % 825 = 0),
         fr AS (
           SELECT a.asset_id, a.scene, a.sr, a.kb, t.k,
                  md5(rpad('mp3:' || CAST(a.scene AS VARCHAR) || ':' ||
                           CAST(t.k AS VARCHAR) || ':' ||
                           md5('m' || CAST(a.scene AS VARCHAR) || '_' ||
                               CAST(t.k AS VARCHAR)),
                           a.dlen, '.')) AS dig
           FROM mp3 a, range(7) t(k)
           WHERE t.k < ((a.scene // a.m) % 5) + 2),
         st AS (
           SELECT asset_id, sr, kb, count(*) AS n_frames,
                  md5(string_agg(dig, '' ORDER BY k)) AS audio_fp
           FROM fr GROUP BY asset_id, sr, kb)
         SELECT s.asset_id, s.n_frames,
                CAST(s.sr AS BIGINT) AS sample_rate,
                CAST(s.kb AS BIGINT) AS kbps,
                CAST(1 AS BIGINT) AS channels, s.audio_fp,
                (SELECT min(s2.asset_id) FROM st s2
                  WHERE s2.audio_fp = s.audio_fp) AS canonical_id
         FROM st s ORDER BY s.asset_id""",

    // expected audio clusters fall straight out of the variant
    // schedule: a scene clusters iff it planted at least one decodable
    // variant (md5 mixing keeps distinct scenes ~32 fingerprint bits
    // apart — far beyond maxDist=2 — and the perturbed variant moves
    // at most the 2 gradients adjacent to segment 37: within it).
    // %100 implies %50, %150 implies %75, %200 (FLAC) implies
    // %50/%100, %250 (AIFF) implies %50/%125, %300 (24-bit) implies
    // %50/%75/%100/%150, and %225 (extensible) implies %75 — so only
    // %50/%75/%125 widen the canonical-member condition; the %175
    // corrupt family never enters the candidate space.
    "mm_audio_near" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
         m AS (
           SELECT doc_id AS canonical_id, doc_id AS member FROM d
             WHERE doc_id % 50 = 0 OR doc_id % 75 = 0 OR doc_id % 125 = 0
           UNION ALL SELECT doc_id, doc_id + 100000 FROM d WHERE doc_id % 50 = 0
           UNION ALL SELECT doc_id, doc_id + 200000 FROM d WHERE doc_id % 75 = 0
           UNION ALL SELECT doc_id, doc_id + 300000 FROM d WHERE doc_id % 100 = 0
           UNION ALL SELECT doc_id, doc_id + 400000 FROM d WHERE doc_id % 125 = 0
           UNION ALL SELECT doc_id, doc_id + 500000 FROM d WHERE doc_id % 150 = 0
           UNION ALL SELECT doc_id, doc_id + 700000 FROM d WHERE doc_id % 200 = 0
           UNION ALL SELECT doc_id, doc_id + 800000 FROM d WHERE doc_id % 250 = 0
           UNION ALL SELECT doc_id, doc_id + 900000 FROM d WHERE doc_id % 300 = 0
           UNION ALL SELECT doc_id, doc_id + 1000000 FROM d WHERE doc_id % 225 = 0)
         SELECT canonical_id, count(*) AS n_members,
                string_agg(CAST(member AS VARCHAR), ',' ORDER BY member)
                  AS member_ids
         FROM m GROUP BY canonical_id ORDER BY canonical_id""",

    // every stage rule re-expressed from its own per-operator oracle
    // (the v8 discipline on the audio tier): the decodable audio-asset
    // schedule, cluster sizes from the variant schedule, the SHARED
    // text_quality_gate metric/keep fragments on the scene document
    // (its transcript), and the export shard rule
    "pipeline_curate_v9" ->
      MultimodalOps.curateOracle(audioAssetsCte, clips = false),

  )
}
