package graft.multimodal

/** MPEG-2 Transport Stream (ISO/IEC 13818-1) digest tier — the HLS
  * `.ts` segment, the last dominant crawl video container beside
  * MP4/WebM (reference scope: knightshift ingests video rows as
  * opaque URLs, e.g. `scripts/seed_postgres.py:1`; the container
  * grammar here is public-spec work the 100 TB tier needs).
  *
  * The documented tier CONTRACT mirrors [[Mp4Codec.decodeAvcDigest]]:
  * no entropy or transform decode — the walk surfaces stream metadata
  * (the PMT's AVC video descriptor profile/level) plus one CONTENT
  * DIGEST per access unit: md5 over the unit's NAL payload bytes with
  * the Annex-B start-code framing stripped, the 1-byte NAL header
  * excluded, and the non-content NAL classes excluded — SPS (7) /
  * PPS (8) parameter sets (carried out-of-band in MP4's avcC,
  * in-band in a TS), access-unit delimiters (9), and filler (12).
  * That exclusion set is exactly what makes the digest CROSS-
  * CONTAINER: a packager re-muxing the same AVC access units TS↔MP4
  * changes start-code vs length-prefix framing, parameter-set
  * carriage, and delimiter insertion — but not one digested byte —
  * so the TS copy and its MP4 primary share a fingerprint and
  * collapse in exact dedup without a video decoder.
  *
  * Structural honesty (drop-whole, never a partial digest):
  *   - strict packet tiling: the file length is a multiple of 188 and
  *     every packet leads with sync byte 0x47; a mid-packet cut drops
  *     the file whole;
  *   - transport_error_indicator or scrambling bits set → drop;
  *   - per-PID continuity counters must step mod 16 on every payload-
  *     carrying packet (null packets excluded per spec) — a lost or
  *     duplicated packet drops the file;
  *   - PSI sections (PAT/PMT) carry the spec's CRC-32/MPEG-2 over the
  *     whole section — verified, so a flipped byte under the checksum
  *     drops instead of mis-routing the demux; section stuffing must
  *     be 0xFF; repeated PSI must re-resolve to the same PIDs;
  *   - PES packets on the video PID must parse (start-code prefix,
  *     video stream_id, header length honored) and a NONZERO
  *     PES_packet_length must cover the packet exactly; the length-0
  *     unbounded form (live HLS) is bounded by the next payload-unit
  *     start or EOF, so — like WebM's unknown-size clusters — a cut
  *     at a PACKET boundary is a legal shorter capture while a
  *     mid-packet cut still drops;
  *   - every access unit must tile exactly into start-code-framed NAL
  *     units (forbidden bit clear, a valid type) and carry ≥1
  *     digested (content) NAL.
  *
  * Scale shape: same as the other digest tiers — a scan-side
  * single-pass walk inside `mapPartitions`, ~60 B/stream out, media
  * bytes never shuffle; MaxSamples caps the walk.
  */
object TsCodec {

  import Bytes.{Crc32, be16, be16b, be32, be32b, u8}

  private val PacketLen = 188
  private val MaxSamples = 256

  /** A digested TS clip: PMT-descriptor metadata + per-access-unit
    * content digests. `codec` is "avc" (stream_type 0x1B) or "hevc"
    * (0x24 — the other HLS video codec). The fingerprint formula is
    * SHARED with [[Mp4Codec.AvcClip]] — md5 over the ordered sample
    * digests — so identical access units fingerprint identically
    * across the two containers. */
  final case class TsClip(codec: String, profile: Int, level: Int,
      sampleDigests: Vector[String]) {
    def fingerprint: String = Mp4Codec.md5Hex(
      sampleDigests.mkString("").getBytes("US-ASCII"))
  }

  def decodeTsDigest(b: Array[Byte]): Option[TsClip] =
    try decode0(m2tsStrip(b).getOrElse(b))
    catch { case _: RuntimeException => None }

  /** M2TS (BDAV / AVCHD) detection: 192-byte packets, each a 4-byte
    * TP_extra_header (copy-permission + 30-bit arrival timestamp)
    * before a standard 188-byte packet — what Blu-ray authoring and
    * tsMuxeR emit. When EVERY 192-byte block carries sync 0x47 at
    * offset 4 (and the file is not already a plain 188 tiling — the
    * 4512-byte-lcm ambiguity resolves toward the plain reading), the
    * extra headers are FRAMING: strip them and digest the inner
    * stream, so an M2TS re-wrap collapses onto its TS (and MP4)
    * primaries. A mid-packet cut breaks the 192 tiling and drops. */
  private def m2tsStrip(b: Array[Byte]): Option[Array[Byte]] = {
    if (b.length < 192 || b.length % 192 != 0) return None
    if (b.length % PacketLen == 0 && u8(b, 0) == 0x47) return None
    val n = b.length / 192
    var i = 0
    while (i < n) {
      if (u8(b, i * 192 + 4) != 0x47) return None
      i += 1
    }
    val out = new Array[Byte](n * PacketLen)
    i = 0
    while (i < n) {
      System.arraycopy(b, i * 192 + 4, out, i * PacketLen, PacketLen)
      i += 1
    }
    Some(out)
  }

  /** One PSI section read out of a packet payload: verify the CRC,
    * require trailing stuffing to be 0xFF, return [start, end) of the
    * section body (past the 3-byte header, before the CRC). */
  private def psiSection(b: Array[Byte], payload: Int, limit: Int,
      tableId: Int): Option[(Int, Int)] = {
    if (payload >= limit) return None
    val ptr = u8(b, payload)
    val s = payload + 1 + ptr
    if (s + 3 > limit) return None
    if (u8(b, s) != tableId) return None
    if ((u8(b, s + 1) & 0x80) == 0) return None // section_syntax_indicator
    val secLen = be16(b, s + 1) & 0x0fff
    if (secLen < 9 || secLen > 1021) return None
    val end = s + 3 + secLen
    if (end > limit) return None               // multi-packet PSI: out of tier scope
    // CRC-32/MPEG-2 (ISO 13818-1 Annex A): init all-ones
    if ((Crc32(b, s, end - 4, init = -1) & 0xffffffffL) != be32(b, end - 4))
      return None
    var i = end
    while (i < limit) {                        // section stuffing
      if (u8(b, i) != 0xff) return None
      i += 1
    }
    Some((s + 3, end - 4))
  }

  /** Digest one reassembled PES packet (one access unit). `hevc`
    * selects the H.265 NAL grammar: a 2-byte header (forbidden bit,
    * 6-bit type) with VPS(32)/SPS(33)/PPS(34) parameter sets,
    * AUD(35), and filler(38) excluded as carried configuration —
    * the mirror of the AVC exclusion set. Returns null on a
    * malformed unit (caller drops the file). */
  private def pesDigest(pes: Array[Byte], hevc: Boolean): String = {
    if (pes.length < 9) return null
    if (u8(pes, 0) != 0 || u8(pes, 1) != 0 || u8(pes, 2) != 1) return null
    val sid = u8(pes, 3)
    if (sid < 0xe0 || sid > 0xef) return null  // video stream_id
    val pesLen = be16(pes, 4)
    // a nonzero PES_packet_length must cover the reassembled bytes
    // EXACTLY; 0 is the unbounded video form (bounded by the next
    // payload-unit start — already applied by the caller's split)
    if (pesLen != 0 && pesLen != pes.length - 6) return null
    if ((u8(pes, 6) & 0xc0) != 0x80) return null // '10' marker
    if ((u8(pes, 6) & 0x30) != 0) return null    // PES scrambling
    val hl = u8(pes, 8)
    var q = 9 + hl
    if (q >= pes.length) return null
    // Annex-B ES: split on start codes (3- or 4-byte), digest content
    // NAL payloads (header + SPS/PPS/AUD/filler excluded)
    if (!(q + 3 <= pes.length && u8(pes, q) == 0 && u8(pes, q + 1) == 0 &&
        (u8(pes, q + 2) == 1 ||
          (u8(pes, q + 2) == 0 && q + 4 <= pes.length &&
            u8(pes, q + 3) == 1)))) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    var digested = 0
    while (q < pes.length) {
      // consume the start code
      if (q + 3 <= pes.length && u8(pes, q) == 0 && u8(pes, q + 1) == 0 &&
          u8(pes, q + 2) == 1) q += 3
      else if (q + 4 <= pes.length && u8(pes, q) == 0 &&
          u8(pes, q + 1) == 0 && u8(pes, q + 2) == 0 &&
          u8(pes, q + 3) == 1) q += 4
      else return null
      if (q >= pes.length) return null
      val hdr = u8(pes, q)
      if ((hdr & 0x80) != 0) return null       // forbidden_zero_bit
      val typ = if (hevc) (hdr >> 1) & 0x3f else hdr & 0x1f
      if (!hevc && (typ < 1 || typ > 23)) return null
      if (hevc && typ > 40) return null        // reserved/unspecified
      val hdrLen = if (hevc) 2 else 1
      // the NAL runs to the next start code or EOF
      var e = q + 1
      var found = -1
      while (found < 0 && e < pes.length) {
        if (u8(pes, e) == 0 && e + 2 < pes.length && u8(pes, e + 1) == 0 &&
            (u8(pes, e + 2) == 1 ||
              (u8(pes, e + 2) == 0 && e + 3 < pes.length &&
                u8(pes, e + 3) == 1))) found = e
        else e += 1
      }
      val nalEnd = if (found >= 0) found else pes.length
      if (nalEnd < q + hdrLen) return null
      val excluded =
        if (hevc) typ == 32 || typ == 33 || typ == 34 || typ == 35 ||
          typ == 38
        else typ == 7 || typ == 8 || typ == 9 || typ == 12
      if (!excluded) {
        md.update(pes, q + hdrLen, nalEnd - (q + hdrLen))
        digested += 1
      }
      q = nalEnd
    }
    if (digested == 0) return null
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  private def decode0(b: Array[Byte]): Option[TsClip] = {
    if (b.length < PacketLen || b.length % PacketLen != 0) return None
    val n = b.length / PacketLen
    var pmtPid = -1
    var videoPid = -1
    var videoHevc = false
    var profile = 0
    var level = 0
    val cc = new Array[Int](8192)
    java.util.Arrays.fill(cc, -1)
    var pesOpen: java.io.ByteArrayOutputStream = null
    val digests = Vector.newBuilder[String]
    var nSamples = 0

    def flushPes(): Boolean = {
      if (pesOpen == null) return true
      val d = pesDigest(pesOpen.toByteArray, videoHevc)
      pesOpen = null
      if (d == null) return false
      digests += d
      nSamples += 1
      nSamples <= MaxSamples
    }

    var i = 0
    while (i < n) {
      val p = i * PacketLen
      val limit = p + PacketLen
      if (u8(b, p) != 0x47) return None
      val b1 = u8(b, p + 1)
      if ((b1 & 0x80) != 0) return None        // transport_error_indicator
      val pusi = (b1 & 0x40) != 0
      val pid = be16(b, p + 1) & 0x1fff
      val b3 = u8(b, p + 3)
      if ((b3 >> 6) != 0) return None          // scrambling_control
      val afc = (b3 >> 4) & 3
      if (afc == 0) return None                // reserved
      if (pid != 0x1fff) {                     // CC undefined for null pkts
        val c = b3 & 0x0f
        val prev = cc(pid)
        if (prev >= 0) {
          val want = if ((afc & 1) != 0) (prev + 1) & 0x0f else prev
          if (c != want) return None           // lost/duplicated packet
        }
        cc(pid) = c
      }
      var payload = p + 4
      if ((afc & 2) != 0) {                    // adaptation field
        val afLen = u8(b, p + 4)
        payload = p + 5 + afLen
        if (afc == 2 && afLen != 183) return None
        if (afc == 3 && afLen > 182) return None
      }
      if ((afc & 1) != 0 && pid != 0x1fff) {
        if (payload >= limit) return None
        if (pid == 0) {                        // PAT
          if (!pusi) return None
          val (s, e) = psiSection(b, payload, limit, 0x00)
            .getOrElse(return None)
          if (e - s < 5 + 4) return None
          // program loop past transport_stream_id(2)+ver(1)+sec(2)
          var q = s + 5
          var found = -1
          while (q + 4 <= e) {
            val prog = be16(b, q)
            val mpid = be16(b, q + 2) & 0x1fff
            if (prog != 0 && found < 0) found = mpid
            q += 4
          }
          if (q != e) return None            // program loop tiles exactly
          if (found < 0) return None
          if (pmtPid >= 0 && pmtPid != found) return None // re-routed PSI
          pmtPid = found
        } else if (pid == pmtPid) {            // PMT
          if (!pusi) return None
          val (s, e) = psiSection(b, payload, limit, 0x02)
            .getOrElse(return None)
          if (e - s < 9) return None
          val pil = be16(b, s + 7) & 0x0fff
          var q = s + 9 + pil
          var vp = -1
          var vHevc = false
          var prof = 0
          var lev = 0
          while (q + 5 <= e) {
            val st = u8(b, q)
            val epid = be16(b, q + 1) & 0x1fff
            val eil = be16(b, q + 3) & 0x0fff
            if (q + 5 + eil > e) return None
            if ((st == 0x1b || st == 0x24) && vp < 0) { // H.264/H.265
              vp = epid
              vHevc = st == 0x24
              // descriptor loop: the AVC video descriptor (tag 40,
              // ISO 13818-1 §2.6.64) and the HEVC descriptor
              // (tag 56, §2.6.95) carry profile/level
              var dq = q + 5
              while (dq + 2 <= q + 5 + eil) {
                val tag = u8(b, dq)
                val dl = u8(b, dq + 1)
                if (dq + 2 + dl > q + 5 + eil) return None
                if (!vHevc && tag == 40 && dl >= 4) {
                  prof = u8(b, dq + 2)
                  lev = u8(b, dq + 4)
                }
                if (vHevc && tag == 56 && dl >= 12) {
                  prof = u8(b, dq + 2) & 0x1f
                  lev = u8(b, dq + 13)
                }
                dq += 2 + dl
              }
            }
            q += 5 + eil
          }
          if (q != e) return None              // ES loop tiles exactly
          if (vp < 0) return None              // no H.264/H.265 stream
          if (videoPid >= 0 && videoPid != vp) return None
          videoPid = vp
          videoHevc = vHevc
          profile = prof
          level = lev
        } else if (pid == videoPid) {          // the AVC elementary stream
          if (pusi) {
            if (!flushPes()) return None
            pesOpen = new java.io.ByteArrayOutputStream()
          } else if (pesOpen == null) return None // mid-PES stream start
          pesOpen.write(b, payload, limit - payload)
        }
        // other PIDs (audio siblings, PCR-only, SCTE) are tolerated
        // program components — not the digest subject
      }
      i += 1
    }
    if (!flushPes()) return None
    if (videoPid < 0 || nSamples == 0) return None
    Some(TsClip(if (videoHevc) "hevc" else "avc", profile, level,
      digests.result()))
  }

  // ---- fixture encoder (planting + spec round-trips) ----

  /** Encode the planted AVC scene as an HLS-shaped transport stream:
    * PAT + PMT (stream_type 0x1B with the AVC video descriptor,
    * baseline 66 / level 30 — matching [[Mp4Codec]]'s avcC), then one
    * bounded PES packet per access unit carrying the SAME NAL content
    * as [[Mp4Codec.encodeAvcMp4]] in Annex-B framing: AUD + (AU 0
    * only: SPS + PPS) + the content NALs. Framing knobs vary the
    * bytes without touching the digest, the twin discipline:
    *   - `psiRepeat`: PAT+PMT re-emitted before every access unit
    *     (the HLS segment shape — decoders may tune in mid-stream);
    *   - `nullPadding`: a null packet (PID 0x1FFF) between units;
    *   - `pesLenZero`: the unbounded video PES_packet_length form;
    *   - `longStartCodes`: 4-byte Annex-B start codes;
    *   - `psRepeat`: SPS+PPS repeated in EVERY access unit (the
    *     joinable-stream shape) — excluded NAL classes, digest-free;
    *   - `audioSibling`: a second program component (stream_type 0x0F
    *     AAC on its own PID, ADTS-framed PES interleaved after each
    *     video unit) — the real muxed HLS segment shape; sibling PIDs
    *     are program components the video digest must ignore;
    *   - `m2ts`: the BDAV/AVCHD 192-byte form — every packet behind a
    *     4-byte TP_extra_header (arrival timestamps): pure framing
    *     the digest strips;
    *   - `hevc`: the H.265 segment shape — stream_type 0x24, the
    *     HEVC descriptor (tag 56, Main profile 1 / level 93), 2-byte
    *     NAL headers with in-band VPS+SPS+PPS, an SEI-prefix NAL on
    *     AU 0, and the "hev:"-keyed payload formula (its own
    *     fingerprint family, disjoint from AVC).
    */
  def encodeAvcTs(scene: Long, nFrames: Int,
      psiRepeat: Boolean = false, nullPadding: Boolean = false,
      pesLenZero: Boolean = false, longStartCodes: Boolean = false,
      psRepeat: Boolean = false,
      audioSibling: Boolean = false,
      m2ts: Boolean = false,
      hevc: Boolean = false): Array[Byte] = {
    require(nFrames >= 1 && nFrames <= MaxSamples)
    val pmtPid = 0x1000
    val vidPid = 0x0100
    val audPid = 0x0101
    val ccs = new Array[Int](8192)
    val out = new java.io.ByteArrayOutputStream()

    def packet(pid: Int, pusi: Boolean, body: Array[Byte],
        psiStuff: Boolean): Int = {
      // returns bytes of `body` consumed into one 188-byte packet
      val pay = math.min(body.length, 184)
      val hdr = new Array[Byte](4)
      hdr(0) = 0x47
      hdr(1) = (((if (pusi) 0x40 else 0) | (pid >> 8)) & 0xff).toByte
      hdr(2) = (pid & 0xff).toByte
      val cc = ccs(pid)
      ccs(pid) = (cc + 1) & 0x0f
      val spare = 184 - pay
      if (spare == 0 || psiStuff) {
        hdr(3) = (0x10 | cc).toByte            // payload only
        out.write(hdr)
        out.write(body, 0, pay)
        var k = 0
        while (k < spare) { out.write(0xff); k += 1 } // PSI stuffing
      } else {
        hdr(3) = (0x30 | cc).toByte            // AF + payload
        out.write(hdr)
        out.write(spare - 1)                   // adaptation_field_length
        if (spare - 1 > 0) {
          out.write(0x00)                      // AF flags
          var k = 0
          while (k < spare - 2) { out.write(0xff); k += 1 }
        }
        out.write(body, 0, pay)
      }
      pay
    }

    def writePes(pid: Int, body: Array[Byte]): Unit = {
      var off = 0
      var first = true
      while (off < body.length) {
        val rest = java.util.Arrays.copyOfRange(body, off, body.length)
        off += packet(pid, first, rest, psiStuff = false)
        first = false
      }
    }

    def section(tableId: Int, body: Array[Byte]): Array[Byte] = {
      val secLen = body.length + 5 + 4         // tsid..last + CRC
      val s = new java.io.ByteArrayOutputStream()
      s.write(tableId)
      s.write(0xb0 | (secLen >> 8)); s.write(secLen & 0xff)
      s.write(0x00); s.write(0x01)             // transport_stream_id
      s.write(0xc1)                            // version 0, current
      s.write(0x00); s.write(0x00)             // section numbers
      s.write(body, 0, body.length)
      val raw = s.toByteArray
      s.write(be32b(Crc32(raw, 0, raw.length, init = -1)))
      s.toByteArray
    }

    def writePsi(): Unit = {
      val pat = section(0x00, Array[Byte](0x00, 0x01,
        (0xe0 | (pmtPid >> 8)).toByte, (pmtPid & 0xff).toByte))
      // the AVC video descriptor (profile 66, constraints 0xc0,
      // level 30, flags+reserved) or the HEVC descriptor (tag 56:
      // profile_space/tier/profile_idc 1, 4 compat bytes, 6
      // constraint bytes, level_idc 93, a flags byte)
      val avcDesc =
        if (hevc) Array[Byte](56, 13, 0x01) ++
          Array.fill[Byte](10)(0) ++ Array[Byte](93, 0x00)
        else Array[Byte](40, 4, 66, 0xc0.toByte, 30, 0x1f)
      val audEs =
        if (!audioSibling) Array.emptyByteArray
        else Array[Byte](0x0f,                 // stream_type ADTS AAC
          (0xe0 | (audPid >> 8)).toByte, (audPid & 0xff).toByte,
          0xf0.toByte, 0x00)
      val pmt = section(0x02, Array[Byte](
        (0xe0 | (vidPid >> 8)).toByte, (vidPid & 0xff).toByte, // PCR_PID
        0xf0.toByte, 0x00,                     // program_info_length 0
        (if (hevc) 0x24 else 0x1b).toByte,     // stream_type H.264/265
        (0xe0 | (vidPid >> 8)).toByte, (vidPid & 0xff).toByte,
        0xf0.toByte, avcDesc.length.toByte) ++ avcDesc ++ audEs)
      packet(0x0000, pusi = true, 0.toByte +: pat, psiStuff = true)
      packet(pmtPid, pusi = true, 0.toByte +: pmt, psiStuff = true)
      ()
    }

    def writeNull(): Unit = {
      val hdr = Array[Byte](0x47, 0x1f, 0xff.toByte, 0x10)
      out.write(hdr)
      var k = 0
      while (k < 184) { out.write(0xff); k += 1 }
    }

    val start: Array[Byte] =
      if (longStartCodes) Array[Byte](0, 0, 0, 1) else Array[Byte](0, 0, 1)
    // HEVC NAL headers are 2 bytes: [f(1) type(6) layerId(6) tid(3)]
    def hevcHdr(typ: Int): Array[Byte] =
      Array[Byte]((typ << 1).toByte, 0x01)
    val sps =
      if (hevc) hevcHdr(33) ++ "sps-main-1".getBytes("US-ASCII")
      else Array[Byte](0x67) ++ "sps-baseline-66".getBytes("US-ASCII")
    val pps =
      if (hevc) hevcHdr(34) ++ "pps-0".getBytes("US-ASCII")
      else Array[Byte](0x68) ++ "pps-0".getBytes("US-ASCII")
    val vps =
      if (hevc) hevcHdr(32) ++ "vps-0".getBytes("US-ASCII")
      else Array.emptyByteArray
    val aud =
      if (hevc) hevcHdr(35) :+ 0x50.toByte
      else Array[Byte](0x09, 0xf0.toByte)

    writePsi()
    var k = 0
    while (k < nFrames) {
      if (psiRepeat && k > 0) writePsi()
      if (nullPadding && k > 0) writeNull()
      val es = new java.io.ByteArrayOutputStream()
      es.write(start, 0, start.length); es.write(aud, 0, aud.length)
      if (k == 0 || psRepeat) {
        if (hevc) {
          es.write(start, 0, start.length); es.write(vps, 0, vps.length)
        }
        es.write(start, 0, start.length); es.write(sps, 0, sps.length)
        es.write(start, 0, start.length); es.write(pps, 0, pps.length)
      }
      if (hevc) {
        // AU 0 carries an SEI-prefix NAL (type 39); every AU an IDR
        // (type 19, IDR_W_RADL) over the "hev:"-keyed formula
        if (k == 0) {
          es.write(start, 0, start.length)
          es.write(hevcHdr(39), 0, 2)
          val sei = s"hsei:$scene".getBytes("US-ASCII")
          es.write(sei, 0, sei.length)
        }
        es.write(start, 0, start.length)
        es.write(hevcHdr(19), 0, 2)
        val idr = (s"hev:$scene:$k:" +
          Mp4Codec.md5Hex(s"h${scene}_$k".getBytes("UTF-8")))
          .getBytes("US-ASCII")
        es.write(idr, 0, idr.length)
      } else Mp4Codec.avcSamplePayloads(scene, k).foreach { payload =>
        val nalType: Byte = if (payload.startsWith(
          "sei".getBytes("US-ASCII"))) 0x06 else 0x65
        es.write(start, 0, start.length)
        es.write(nalType.toInt)
        es.write(payload, 0, payload.length)
      }
      val esb = es.toByteArray
      val pts = 3600L * k
      val ptsB = Array[Byte](
        (0x21 | (((pts >> 30) & 7) << 1).toInt).toByte,
        ((pts >> 22) & 0xff).toByte,
        (0x01 | (((pts >> 15) & 0x7f) << 1).toInt).toByte,
        ((pts >> 7) & 0xff).toByte,
        (0x01 | ((pts & 0x7f) << 1).toInt).toByte)
      val pesLen = if (pesLenZero) 0 else 3 + ptsB.length + esb.length
      val pes = new java.io.ByteArrayOutputStream()
      pes.write(0); pes.write(0); pes.write(1); pes.write(0xe0)
      pes.write(be16b(pesLen))
      pes.write(0x80); pes.write(0x80)         // '10', PTS present
      pes.write(ptsB.length)
      pes.write(ptsB, 0, ptsB.length)
      pes.write(esb, 0, esb.length)
      writePes(vidPid, pes.toByteArray)
      if (audioSibling) {
        // an interleaved audio PES (stream_id 0xC0) the video digest
        // must ignore — its bytes vary per unit so a silent digest
        // leak would move the fingerprint
        val ab = s"adts-sib:$scene:$k".getBytes("US-ASCII")
        val apes = new java.io.ByteArrayOutputStream()
        apes.write(0); apes.write(0); apes.write(1); apes.write(0xc0)
        apes.write(be16b(3 + ab.length))
        apes.write(0x80); apes.write(0x00); apes.write(0)
        apes.write(ab, 0, ab.length)
        writePes(audPid, apes.toByteArray)
      }
      k += 1
    }
    val flat = out.toByteArray
    if (!m2ts) flat
    else {
      // wrap every packet with the 4-byte TP_extra_header: 2-bit
      // copy-permission (00) + a 30-bit arrival timestamp ticking
      // 300 × 27 MHz units per packet
      val n = flat.length / PacketLen
      val wrapped = new Array[Byte]((PacketLen + 4) * n)
      var i = 0
      while (i < n) {
        val ats = (i.toLong * 300L) & 0x3fffffffL
        val w = i * 192
        wrapped(w) = ((ats >> 24) & 0x3f).toByte
        wrapped(w + 1) = ((ats >> 16) & 0xff).toByte
        wrapped(w + 2) = ((ats >> 8) & 0xff).toByte
        wrapped(w + 3) = (ats & 0xff).toByte
        System.arraycopy(flat, i * PacketLen, wrapped, w + 4, PacketLen)
        i += 1
      }
      wrapped
    }
  }
}
