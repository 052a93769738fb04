package graft.multimodal

/** MP3 (MPEG-1/2/2.5 audio) stream walk for the audio-corpus tier —
  * the documented DIGEST contract (the audio analog of
  * [[Mp4Codec.decodeAvcDigest]]): MP3 payloads are NOT synthesized to
  * PCM — no Huffman/IMDCT/polyphase decode is attempted or implied.
  * The tier walks the REAL frame grammar of ISO 11172-3 / 13818-3:
  * ID3v2 tag skip (syncsafe size, optional footer), then a strict
  * frame tiling — 11-bit sync, version/layer/bitrate/samplerate
  * fields against the standard tables, per-frame length arithmetic
  * (Layer I ×4-slot rule, the Layer III MPEG-2 halving), padding,
  * optional CRC slot (skipped, not verified) — terminated by EOF or a
  * trailing 128-byte ID3v1 tag. It surfaces stream metadata (layer,
  * sample rate, channel count, first-frame bitrate, VBR flag) plus
  * one CONTENT DIGEST per frame (md5 over the frame data after the
  * header/CRC slot), reduced to a stream fingerprint.
  *
  * Why this is the 100 TB-relevant surface: the canonical MP3
  * duplicate in a crawl is the RE-TAGGED copy — identical audio
  * frames under different ID3 metadata. Tags are excluded from the
  * digest by construction — and so is a leading LAME/Xing VBR-header
  * FRAME ("Xing"/"Info" at the spec offset past the Layer III side
  * info): it is encoder metadata tag tools rewrite freely, the same
  * invariance class. Exact dedup therefore collapses re-tagged and
  * Xing-rewritten copies without an audio decoder, while
  * lossy-content NEAR-dup pairing stays on the PCM tiers
  * (WAV/FLAC/AIFF envelopes). A PCM synthesis tier can slot in behind
  * the same walk later.
  *
  * Strictness: frames must tile the stream EXACTLY (any slack that is
  * not a valid ID3v1 trailer fails), every frame must share the
  * stream's version/layer/samplerate (bitrate may vary — VBR),
  * free-format (bitrate index 0) and reserved field values reject,
  * and a truncated final frame drops the whole stream. Decode never
  * throws.
  */
object Mp3Codec {

  /** One MP3 stream's digest view. `version` is 10×the MPEG version
    * (10, 20, 25); `kbps` is the first frame's bitrate; `vbr` when
    * any later frame differs. */
  final case class Mp3Stream(version: Int, layer: Int, sampleRate: Int,
      channels: Int, kbps: Int, vbr: Boolean,
      frameDigests: Vector[String]) {
    def fingerprint: String = Mp4Codec.md5Hex(
      frameDigests.mkString("").getBytes("US-ASCII"))
  }

  import Bytes.u8

  // bitrate tables (kbps), index 1..14; 0 = free format (rejected),
  // 15 = invalid (ISO 11172-3 / 13818-3)
  private val BrV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256,
    288, 320, 352, 384, 416, 448)
  private val BrV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160,
    192, 224, 256, 320, 384)
  private val BrV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320)
  private val BrV2L1 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144,
    160, 176, 192, 224, 256)
  private val BrV2L23 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
    96, 112, 128, 144, 160)

  private val SrV1 = Array(44100, 48000, 32000)
  private val SrV2 = Array(22050, 24000, 16000)
  private val SrV25 = Array(11025, 12000, 8000)

  private val MaxFrames = 1 << 16

  def decodeMp3Digest(b: Array[Byte]): Option[Mp3Stream] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Mp3Stream] = {
    if (b.length < 4) return None
    // a leading ID3v2 tag is skipped
    val p = Bytes.id3v2End(b) match {
      case Some(q) => q
      case None => return None
    }
    // trailing ID3v1 tag: exactly 128 bytes starting "TAG". The
    // trailer sniff must not override a valid tiling — a stream whose
    // FINAL FRAME happens to contain 'TAG' 128 bytes from EOF is a
    // legal frame sequence, not a tagged one — so the strict walk
    // runs untrimmed first and the trailer is only stripped as the
    // retry when the untrimmed stream fails to tile.
    walk(b, p, b.length).orElse {
      val end = b.length
      if (end - p >= 128 && b(end - 128) == 'T' &&
          b(end - 127) == 'A' && b(end - 126) == 'G')
        walk(b, p, end - 128)
      else None
    }
  }

  /** The strict frame tiling of [p, end): every byte must belong to a
    * well-formed frame of one (version, layer, samplerate) stream. */
  private def walk(b: Array[Byte], from: Int,
      end: Int): Option[Mp3Stream] = {
    var p = from
    var version = 0      // 10 / 20 / 25
    var layer = 0
    var sampleRate = 0
    var channels = 0
    var kbps0 = 0
    var vbr = false
    val digests = Vector.newBuilder[String]
    var n = 0

    while (p < end) {
      if (p + 4 > end) return None
      if (u8(b, p) != 0xff || (u8(b, p + 1) & 0xe0) != 0xe0) return None
      val verBits = (u8(b, p + 1) >> 3) & 3
      val ver = verBits match {
        case 0 => 25
        case 2 => 20
        case 3 => 10
        case _ => return None              // reserved
      }
      val layerBits = (u8(b, p + 1) >> 1) & 3
      val lay = layerBits match {
        case 1 => 3
        case 2 => 2
        case 3 => 1
        case _ => return None              // reserved
      }
      val crcPresent = (u8(b, p + 1) & 1) == 0
      val brIdx = (u8(b, p + 2) >> 4) & 0xf
      if (brIdx == 0 || brIdx == 15) return None // free format / bad
      val srIdx = (u8(b, p + 2) >> 2) & 3
      if (srIdx == 3) return None
      val pad = (u8(b, p + 2) >> 1) & 1
      val mode = (u8(b, p + 3) >> 6) & 3
      if ((u8(b, p + 3) & 3) == 2) return None // reserved emphasis
      val sr = (ver match {
        case 10 => SrV1
        case 20 => SrV2
        case _ => SrV25
      })(srIdx)
      val br = 1000 * ((ver, lay) match {
        case (10, 1) => BrV1L1(brIdx)
        case (10, 2) => BrV1L2(brIdx)
        case (10, 3) => BrV1L3(brIdx)
        case (_, 1) => BrV2L1(brIdx)
        case _ => BrV2L23(brIdx)
      })
      val frameLen = lay match {
        case 1 => (12 * br / sr + pad) * 4
        case 3 if ver != 10 => 72 * br / sr + pad
        case _ => 144 * br / sr + pad
      }
      if (frameLen < 4 + (if (crcPresent) 2 else 0) + 1) return None
      if (p + frameLen > end) return None  // truncated final frame
      if (n == 0) {
        version = ver; layer = lay; sampleRate = sr
        channels = if (mode == 3) 1 else 2
        kbps0 = br / 1000
      } else {
        // a real stream never changes version/layer/samplerate
        if (ver != version || lay != layer || sr != sampleRate)
          return None
        if (br / 1000 != kbps0) vbr = true
      }
      val dataAt = p + 4 + (if (crcPresent) 2 else 0)
      // a LAME/Xing VBR-header FRAME (first frame, "Xing"/"Info" at
      // the spec offset past the Layer III side info) is encoder
      // metadata, not audio: tag tools rewrite it freely, so it is
      // excluded from the content digest — the same invariance class
      // as ID3 tags. It still must parse as a well-formed frame.
      val sideInfo =
        if (lay == 3) {
          if (ver == 10) { if (mode == 3) 17 else 32 }
          else { if (mode == 3) 9 else 17 }
        } else -1
      val xingAt = dataAt + sideInfo
      val isVbrHeader = n == 0 && sideInfo >= 0 &&
        xingAt + 4 <= p + frameLen && {
          val t = new String(b, xingAt, 4, "US-ASCII")
          t == "Xing" || t == "Info"
        }
      if (!isVbrHeader) {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(b, dataAt, p + frameLen - dataAt)
        digests += md.digest().map(x => f"${x & 0xff}%02x").mkString
      }
      n += 1
      if (n > MaxFrames) return None
      p += frameLen
    }
    val ds = digests.result()
    if (n == 0 || ds.isEmpty) return None
    Some(Mp3Stream(version, layer, sampleRate, channels, kbps0, vbr,
      ds))
  }

  // ---- fixture encoder ----

  /** The deterministic ascii frame payload of frame `k` of the
    * planted scene — "mp3:{scene}:{k}:" + md5("m{scene}_{k}"),
    * dot-padded to the frame's data length: pure md5 arithmetic the
    * DuckDB oracle recomputes verbatim (ascii bytes can never emulate
    * a 0xFF sync). */
  private[multimodal] def framePayload(scene: Long, k: Int,
      dataLen: Int): Array[Byte] = {
    val head = s"mp3:$scene:$k:" +
      Mp4Codec.md5Hex(s"m${scene}_$k".getBytes("UTF-8"))
    require(head.length <= dataLen, "frame too small for the payload")
    (head + "." * (dataLen - head.length)).getBytes("US-ASCII")
  }

  /** Encode a planted mono MP3 stream. The fixture envelope spans
    * three (version, layer) forms, all chosen so the frame length is
    * EXACT (no padding drift):
    *   - (10, 3) MPEG-1 Layer III @ 32 kHz — `kbps` ∈ {64, 96},
    *     frame lengths 288/432 (the 144·br/sr rule);
    *   - (20, 3) MPEG-2 Layer III @ 24 kHz — `kbps` ∈ {64, 96},
    *     frame lengths 192/288 (the HALVED 72·br/sr rule);
    *   - (10, 1) MPEG-1 Layer I @ 32 kHz — `kbps` ∈ {64, 96},
    *     frame lengths 96/144 (the (12·br/sr)·4 SLOT rule).
    * `id3v2`/`id3v1` wrap the SAME frames in deterministic tags, and
    * `xingHeader` (MPEG-1 L3 only) prepends a LAME-style "Xing"
    * VBR-header frame (17 zero side-info bytes then the magic) — all
    * metadata the fingerprint must ignore. */
  def encodeMp3(scene: Long, nFrames: Int, kbps: Int = 64,
      id3v2: Boolean = false, id3v1: Boolean = false,
      xingHeader: Boolean = false, version: Int = 10,
      layer: Int = 3): Array[Byte] = {
    require(nFrames >= 1)
    require((version, layer) match {
      case (10, 3) | (20, 3) | (10, 1) => true
      case _ => false
    }, "fixture forms: V1-L3, V2-L3, V1-L1")
    require(!xingHeader || (version == 10 && layer == 3),
      "the Xing fixture frame is the MPEG-1 L3 shape")
    val sr = if (version == 20) 24000 else 32000
    val brIdx = ((version, layer), kbps) match {
      case ((10, 3), 64) => 5
      case ((10, 3), 96) => 7
      case ((20, 3), 64) => 8              // BrV2L23
      case ((20, 3), 96) => 10
      case ((10, 1), 64) => 2              // BrV1L1
      case ((10, 1), 96) => 3
      case _ => sys.error("fixture bitrates: 64/96")
    }
    val frameLen = (version, layer) match {
      case (10, 1) => (12 * (kbps * 1000) / sr) * 4
      case (20, 3) => 72 * (kbps * 1000) / sr
      case _ => 144 * (kbps * 1000) / sr
    }
    // header byte 2: sync low bits, version bits (V1=3, V2=2), layer
    // bits (L3=1, L1=3), protection absent
    val verBits = if (version == 20) 2 else 3
    val layBits = if (layer == 1) 3 else 1
    val hdr1 = 0xe0 | (verBits << 3) | (layBits << 1) | 1
    // header byte 3: bitrate index, samplerate index (32 kHz is idx 2
    // in the V1 table; 24 kHz idx 1 in the V2 table), no padding
    val srIdx = if (version == 20) 1 else 2
    val out = new java.io.ByteArrayOutputStream()
    if (id3v2) {
      val content = (s"TAGv2-for-$scene " + "=" * 21)
        .getBytes("US-ASCII").take(32)
      out.write('I'); out.write('D'); out.write('3')
      out.write(3); out.write(0); out.write(0)   // v2.3, no flags
      out.write(0); out.write(0)                 // syncsafe size
      out.write((content.length >> 7) & 0x7f)
      out.write(content.length & 0x7f)
      out.write(content)
    }
    if (xingHeader) {
      out.write(0xff); out.write(0xfb)
      out.write((brIdx << 4) | (2 << 2))
      out.write((3 << 6) | (1 << 2))
      val body = new Array[Byte](frameLen - 4)   // 17 zero side-info
      val magic = ("Xing" + "0000" + s"lame-ish-$scene")
        .getBytes("US-ASCII")
      System.arraycopy(magic, 0, body, 17, magic.length)
      out.write(body)
    }
    var k = 0
    while (k < nFrames) {
      out.write(0xff); out.write(hdr1)
      out.write((brIdx << 4) | (srIdx << 2))     // no padding
      out.write((3 << 6) | (1 << 2))             // mono, original
      out.write(framePayload(scene, k, frameLen - 4))
      k += 1
    }
    if (id3v1) {
      val tag = new Array[Byte](128)
      val txt = s"TAGretagged-copy-of-$scene".getBytes("US-ASCII")
      System.arraycopy(txt, 0, tag, 0, math.min(txt.length, 128))
      out.write(tag)
    }
    out.toByteArray
  }
}
