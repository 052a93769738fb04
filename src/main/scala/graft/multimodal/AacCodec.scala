package graft.multimodal

import Bytes.{be16, be16b, be32, be32b, fourcc, u8}
import Mp4Codec.{assembleMp4, box, child, children, fullBox, md5Hex,
  trackExtents}

/** The AAC audio tier split out of [[Mp4Codec]] (file-size rule):
  * the M4A (`soun`/`mp4a`) sample-digest walk and its ADTS (`.aac`)
  * frame-tiling twin — both reducing the SAME raw access units to
  * per-unit content digests, so the cross-container re-wrap (the
  * dominant audio duplicate) collapses in exact dedup with no AAC
  * decoder. The container walk itself (box grammar, sample tables,
  * fragment runs) stays in [[Mp4Codec]] and is shared with the AVC
  * digest tier via [[Mp4Codec.trackExtents]].
  */
object AacCodec {

  /** One AAC audio track's digest view: channel count and sample rate
    * (from the sample entry / ADTS header), and one content digest
    * per raw access unit. */
  final case class AacTrack(channels: Int, sampleRate: Int,
      sampleDigests: Vector[String]) {
    def fingerprint: String = md5Hex(
      sampleDigests.mkString("").getBytes("US-ASCII"))
  }

  /** The documented AAC tier CONTRACT (the audio twin of
    * [[decodeAvcDigest]]): `mp4a` tracks are NOT decoded to PCM — no
    * filterbank/huffman decode is attempted. The tier walks the
    * `soun`-handler track's sample tables (flat or fragmented, stco
    * or co64) and surfaces one CONTENT DIGEST per sample. MP4 samples
    * ARE the raw AAC access units — framing lives in the container —
    * so the digest is invariant under re-chunking/re-fragmenting AND
    * equals the [[decodeAdtsDigest]] digest of the same units behind
    * ADTS headers: a `.aac` re-wrap of a `.m4a` (the dominant
    * cross-container audio duplicate) collapses in exact dedup.
    * Structural honesty: the `esds` descriptor chain must parse
    * (ES_Descriptor tag 3 with no optional fields,
    * DecoderConfigDescriptor tag 4 with an MPEG-4/MPEG-2 AAC
    * objectTypeIndication, a ≥2-byte DecoderSpecificInfo tag 5), and
    * every sample extent must land in the buffer — truncation or a
    * malformed chain drops the whole track at the gate. */
  def decodeM4aDigest(b: Array[Byte]): Option[AacTrack] =
    try decodeM4a0(b)
    catch { case _: RuntimeException => None }

  private def decodeM4a0(b: Array[Byte]): Option[AacTrack] = {
    if (b.length < 16) return None
    val (moovS, moovE) = child(b, 0, b.length, "moov").getOrElse(return None)
    val audioTrak = children(b, moovS, moovE, "trak").find { case (ts, te) =>
      (for {
        (ms, me) <- child(b, ts, te, "mdia")
        (hs, he) <- child(b, ms, me, "hdlr")
        if hs + 12 <= he
      } yield fourcc(b, hs + 8) == "soun").getOrElse(false)
    }.getOrElse(return None)
    val (ts, te) = audioTrak
    val (ms, me) = child(b, ts, te, "mdia").getOrElse(return None)
    val (mfs, mfe) = child(b, ms, me, "minf").getOrElse(return None)
    val (ss, se) = child(b, mfs, mfe, "stbl").getOrElse(return None)

    val (sdS, sdE) = child(b, ss, se, "stsd").getOrElse(return None)
    if (sdS + 16 > sdE) return None
    if (be32(b, sdS + 4) < 1) return None
    if (fourcc(b, sdS + 12) != "mp4a") return None
    val entryEnd = math.min(sdE.toLong, sdS + 8 + be32(b, sdS + 8)).toInt
    val body = sdS + 16                    // AudioSampleEntry body
    if (body + 28 > entryEnd) return None
    val channels = be16(b, body + 16)
    val sampleRate = (be32(b, body + 24) >> 16).toInt
    if (channels < 1 || sampleRate <= 0) return None

    // esds: ES_Descriptor → DecoderConfigDescriptor (AAC) → DSI
    val (esS, esE) = child(b, body + 28, entryEnd, "esds")
      .getOrElse(return None)
    if (esS + 4 > esE) return None
    val es = readDescriptor(b, esS + 4, esE).getOrElse(return None)
    if (es._1 != 0x03) return None
    var q = es._2 + 2                      // ES_ID
    if (q + 1 > es._3) return None
    if (u8(b, q) != 0) return None         // no optional ES fields
    q += 1
    val dcd = readDescriptor(b, q, es._3).getOrElse(return None)
    if (dcd._1 != 0x04) return None
    val oti = u8(b, dcd._2)
    // 0x40 = MPEG-4 audio; 0x66..0x68 = MPEG-2 AAC profiles
    if (oti != 0x40 && (oti < 0x66 || oti > 0x68)) return None
    if (dcd._2 + 13 > dcd._3) return None
    val dsi = readDescriptor(b, dcd._2 + 13, dcd._3)
      .getOrElse(return None)
    if (dsi._1 != 0x05 || dsi._3 - dsi._2 < 2) return None

    val extents = trackExtents(b, ss, se, ts, te, 1 << 16)
      .getOrElse(return None)
    Some(AacTrack(channels, sampleRate,
      extents.map { case (off, sz) =>
        md5Hex(java.util.Arrays.copyOfRange(b, off, off + sz))
      }))
  }

  /** One MPEG-4 descriptor at `at`: (tag, payloadStart, payloadEnd).
    * Sizes use the 7-bit continuation encoding (≤4 bytes). */
  private def readDescriptor(b: Array[Byte], at: Int,
      end: Int): Option[(Int, Int, Int)] = {
    if (at + 2 > end) return None
    val tag = u8(b, at)
    var p = at + 1
    var size = 0L
    var n = 0
    var more = true
    while (more) {
      if (p >= end || n >= 4) return None
      val v = u8(b, p)
      size = (size << 7) | (v & 0x7f)
      more = (v & 0x80) != 0
      p += 1
      n += 1
    }
    if (size < 0 || p + size > end) return None
    Some((tag, p, (p + size).toInt))
  }

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100,
    32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** ADTS (`.aac`) stream walk — the file-level framing of the same
    * raw AAC access units [[decodeM4aDigest]] reads from MP4 sample
    * tables: strict frame tiling (12-bit sync, layer 00, a valid
    * sampling-frequency index, channel configuration 1..7, one raw
    * data block per frame, frame length covering its own header),
    * constant profile/rate/channels across the stream, digest per
    * frame over the payload AFTER the 7/9-byte header (+CRC) — so an
    * ADTS re-wrap fingerprints identically to its M4A twin. ID3 tags
    * — the re-tag duplicate shape standalone `.aac` files carry in
    * the wild — are handled on the MP3 precedent: a leading ID3v2
    * header (syncsafe size, optional footer) is skipped ('I' can
    * never be an 0xFF sync byte, so a tagged stream could never tile
    * from byte 0), and a trailing 128-byte ID3v1 block is stripped
    * ONLY when the untrimmed walk fails to tile — a stream whose
    * final frame happens to contain 'TAG' 128 bytes from EOF stays a
    * legal frame sequence. Decode never throws; truncation or slack
    * → None (a cut at an exact frame boundary is a legal shorter
    * stream — the MP3 precedent). */
  def decodeAdtsDigest(b: Array[Byte]): Option[AacTrack] =
    try decodeAdts0(b)
    catch { case _: RuntimeException => None }

  private def decodeAdts0(b: Array[Byte]): Option[AacTrack] = {
    if (b.length < 7) return None
    // a leading ID3v2 tag is skipped (the MP3 precedent)
    val p = Bytes.id3v2End(b) match {
      case Some(q) => q
      case None => return None
    }
    // the strict walk runs untrimmed first; the ID3v1 trailer is only
    // stripped as the retry when the untrimmed stream fails to tile
    adtsWalk(b, p, b.length).orElse {
      val end = b.length
      if (end - p >= 128 && b(end - 128) == 'T' &&
          b(end - 127) == 'A' && b(end - 126) == 'G')
        adtsWalk(b, p, end - 128)
      else None
    }
  }

  /** The strict ADTS frame tiling of [from, end). */
  private def adtsWalk(b: Array[Byte], from: Int,
      end: Int): Option[AacTrack] = {
    var p = from
    var channels = 0
    var rate = 0
    var profile = -1
    val digests = Vector.newBuilder[String]
    var n = 0
    while (p < end) {
      if (p + 7 > end) return None
      if (u8(b, p) != 0xff || (u8(b, p + 1) & 0xf6) != 0xf0) return None
      val protAbsent = u8(b, p + 1) & 1
      val prof = (u8(b, p + 2) >> 6) & 3
      val freqIdx = (u8(b, p + 2) >> 2) & 0xf
      if (freqIdx >= AdtsRates.length) return None
      val chanCfg = ((u8(b, p + 2) & 1) << 2) | ((u8(b, p + 3) >> 6) & 3)
      if (chanCfg < 1) return None         // in-stream PCE: outside envelope
      val frameLen = ((u8(b, p + 3) & 3) << 11) |
        (u8(b, p + 4) << 3) | ((u8(b, p + 5) >> 5) & 7)
      val rdb = u8(b, p + 6) & 3
      if (rdb != 0) return None            // one raw data block per frame
      val hdr = 7 + (if (protAbsent == 0) 2 else 0)
      if (frameLen < hdr + 1 || p + frameLen > end) return None
      // channel_configuration 7 means 8 channels (ISO 14496-3
      // Table 1.19); 1..6 map directly
      val nch = if (chanCfg == 7) 8 else chanCfg
      if (n == 0) {
        profile = prof; rate = AdtsRates(freqIdx); channels = nch
      } else {
        if (prof != profile || AdtsRates(freqIdx) != rate ||
            nch != channels) return None
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(b, p + hdr, frameLen - hdr)
      digests += md.digest().map(x => f"${x & 0xff}%02x").mkString
      n += 1
      if (n > (1 << 16)) return None       // audio streams run long
      p += frameLen
    }
    if (n == 0) return None
    Some(AacTrack(channels, rate, digests.result()))
  }


  /** The deterministic raw AAC access unit of sample `k` of the
    * planted scene — "aac:{scene}:{k}:" + md5("c{scene}_{k}"),
    * dot-padded to 200 bytes: pure md5 arithmetic the DuckDB oracle
    * recomputes verbatim (ascii can never carry an 0xFF ADTS sync). */
  private[multimodal] def aacSamplePayload(scene: Long,
      k: Int): Array[Byte] = {
    val head = s"aac:$scene:$k:" +
      md5Hex(s"c${scene}_$k".getBytes("UTF-8"))
    (head + "." * (200 - head.length)).getBytes("US-ASCII")
  }

  /** An AudioSampleEntry box (ISO 14496-12 §12.2.3) with trailing
    * extension boxes (the mp4a entry's esds). */
  private def audioSampleEntry(fmt: String, channels: Int, rate: Int,
      extensions: Array[Byte]): Array[Byte] = {
    val body =
      Array.fill[Byte](6)(0) ++ be16b(1) ++    // reserved + data_ref
      be32b(0) ++ be32b(0) ++                  // reserved
      be16b(channels) ++ be16b(16) ++          // channelcount, samplesize
      be16b(0) ++ be16b(0) ++                  // pre_defined, reserved
      be32b(rate << 16)                        // 16.16 fixed
    box(fmt, body ++ extensions)
  }

  /** The esds descriptor chain for AAC-LC: ES_Descriptor(3) →
    * DecoderConfigDescriptor(4, objectTypeIndication 0x40) →
    * DecoderSpecificInfo(5, the 2-byte AudioSpecificConfig) +
    * SLConfigDescriptor(6). */
  private def aacEsds(freqIdx: Int, chanCfg: Int): Array[Byte] = {
    def desc(tag: Int, payload: Array[Byte]): Array[Byte] =
      Array(tag.toByte, payload.length.toByte) ++ payload
    // AudioSpecificConfig: 5-bit AOT (2 = LC), 4-bit freq index,
    // 4-bit channel configuration, 3 pad bits
    val asc = Array(
      ((2 << 3) | (freqIdx >> 1)).toByte,
      (((freqIdx & 1) << 7) | (chanCfg << 3)).toByte)
    val dcd = desc(0x04,
      Array[Byte](0x40, 0x15, 0, 0, 0) ++ be32b(0) ++ be32b(0) ++
        desc(0x05, asc))
    val es = desc(0x03, be16b(1) ++ Array[Byte](0) ++ dcd ++
      desc(0x06, Array[Byte](2)))
    fullBox("esds", es)
  }

  /** Encode a planted AAC-LC audio MP4 (`.m4a`): `soun`-handler
    * track, `mp4a` sample entry with a complete esds chain, raw
    * access units in the sample tables. `chunkSize`/`useCo64` vary
    * the FRAMING without touching the units — the re-mux invariance
    * the digest tier must exhibit (44.1 kHz stereo). */
  def encodeAacM4a(scene: Long, nFrames: Int, chunkSize: Int = 2,
      useCo64: Boolean = false): Array[Byte] = {
    require(nFrames >= 1 && nFrames <= (1 << 16))
    val samples = Array.tabulate(nFrames)(k => aacSamplePayload(scene, k))
    assembleMp4(samples,
      audioSampleEntry("mp4a", 2, 44100, aacEsds(freqIdx = 4,
        chanCfg = 2)),
      0, 0, chunkSize, useCo64, audio = true)
  }

  /** Encode the SAME access units behind 7-byte ADTS headers (the
    * `.aac` file form): profile AAC-LC, 44.1 kHz, stereo, one raw
    * data block per frame — byte-distinct from the M4A, identical
    * fingerprint. `id3v2`/`id3v1` wrap the stream in deterministic
    * ID3 tags (the re-tagged `.aac` duplicate shape) — metadata the
    * fingerprint must ignore. `crc` emits the protection_absent=0
    * form: 9-byte headers whose 2 CRC bytes the walk skips without
    * verifying (the MP3 CRC-slot precedent) — framing, not content.
    * `mpeg2Id` sets the header's ID bit (the MPEG-2 ADTS variant —
    * same layout, same raw units; old encoders emit it): framing the
    * digest must ignore. */
  def encodeAacAdts(scene: Long, nFrames: Int,
      id3v2: Boolean = false, id3v1: Boolean = false,
      crc: Boolean = false, mpeg2Id: Boolean = false): Array[Byte] = {
    require(nFrames >= 1)
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2) {
      val content = (s"AACv2-for-$scene " + "=" * 21)
        .getBytes("US-ASCII").take(32)
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0)   // v2.3, no flags
      out.write(0); out.write(0)                 // syncsafe size
      out.write((content.length >> 7) & 0x7f)
      out.write(content.length & 0x7f)
      out.write(content)
    }
    var k = 0
    while (k < nFrames) {
      val au = aacSamplePayload(scene, k)
      val len = (if (crc) 9 else 7) + au.length
      out.write(0xff)
      // byte 2: sync low nibble, ID bit (MPEG-4=0 / MPEG-2=1),
      // layer 00, protection_absent
      out.write(0xf0 | (if (mpeg2Id) 8 else 0) | (if (crc) 0 else 1))
      out.write((1 << 6) | (4 << 2))       // AAC-LC, freq index 4
      out.write((2 << 6) | ((len >> 11) & 3))
      out.write((len >> 3) & 0xff)
      out.write(((len & 7) << 5) | 0x1f)   // fullness high bits
      out.write(0xfc)                      // fullness low, 0 RDBs
      if (crc) {                           // skipped-not-verified slot
        out.write((scene ^ k).toInt & 0xff)
        out.write(0x5a)
      }
      out.write(au)
      k += 1
    }
    if (id3v1) {
      val tag = new Array[Byte](128)
      val txt = s"TAGretagged-aac-of-$scene".getBytes("US-ASCII")
      System.arraycopy(txt, 0, tag, 0, math.min(txt.length, 128))
      out.write(tag)
    }
    out.toByteArray
  }
}
