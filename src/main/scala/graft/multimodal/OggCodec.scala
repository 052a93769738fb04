package graft.multimodal

/** Ogg (RFC 3533) container walk for the audio-corpus tier — the
  * OGG half of the lossy-audio gap, closed the same documented way as
  * MP3: Vorbis/Opus payloads are NOT synthesized to PCM (no MDCT/
  * floor/residue/CELT/SILK decode is attempted or implied). The tier
  * walks the REAL page grammar — capture pattern, version 0,
  * header-type flags, granule/serial/sequence fields, the spec's
  * CRC-32 (polynomial 0x04c11db7, unreflected, checksum field zeroed
  * during computation) verified on EVERY page, lacing-value segment
  * tables with 255-continuation packet reassembly across pages — and
  * DEMULTIPLEXES grouped (multiplexed) files per RFC 3533 §6: pages
  * of interleaved logical streams are routed to per-serial reassembly
  * before the per-stream strictness below, with all BOS pages
  * required at the front of the file (the spec's grouping rule).
  * Codec identification comes from each stream's first packet:
  *   - Vorbis I: packet type 1 + "vorbis" magic, version 0, channels,
  *     sample rate; three header packets (ident/comment/setup) are
  *     stream SETUP, excluded from content;
  *   - Opus (RFC 7845): "OpusHead" magic, major version 0, channel
  *     count, input sample rate (informational — Opus decodes at
  *     48 kHz; surfaced as 48000 when the ident says 0); TWO header
  *     packets (OpusHead/OpusTags) excluded from content.
  * The digest view is one CONTENT DIGEST per audio packet, reduced to
  * a stream fingerprint; non-audio sibling streams in a grouped file
  * (skeleton/subtitle/video serials) are tolerated — their pages must
  * still satisfy the page grammar, but they carry no digest.
  *
  * Why this is the scale-relevant surface: the canonical Ogg
  * duplicate is the RE-PAGINATED copy — identical packets under a
  * different page layout (muxers repage freely; granule positions and
  * page sequence numbers all change) — and its grouped sibling, the
  * SAME audio stream re-muxed next to a metadata/video stream. Pages
  * are framing, packets are content; digesting the audio stream's
  * packets makes exact dedup invariant under both with no audio
  * decoder, while PCM-space NEAR-dup stays on the decodable tiers.
  * A Vorbis/Opus packet decoder can slot in behind the same
  * reassembly later.
  *
  * CHAINED files (RFC 3533 sequential multiplexing — the icecast/
  * radio-dump shape) are accepted: after a data page has closed a
  * link's BOS section and every stream of the link has reached
  * end-of-stream, a new BOS section may open the next link (serials
  * may repeat across links). A BOS page arriving while the file is
  * still inside a link's OPENING BOS section is a grouped sibling,
  * never a chain boundary — the skeleton shape (a single-page
  * BOS+EOS metadata stream preceding the audio BOS) reads as a
  * grouped file, which also resolves the grammar's one true
  * ambiguity (a complete single-page stream followed by another
  * BOS) toward the grouped reading. The digest view concatenates
  * the links' audio packets in order — the file's content identity —
  * so a re-paginated chained copy collapses while a single-link
  * prefix stays a distinct stream; every link must carry an audio
  * stream of the same codec, and metadata surfaces from the first.
  *
  * Strictness (per logical stream): every page CRC must verify,
  * sequence numbers must be consecutive, the first page must carry
  * beginning-of-stream with sequence 0, the last must carry
  * end-of-stream, no page may follow a stream's EOS within its link,
  * a continued packet must actually span (continuation flag on the
  * next page), and trailing bytes after the final page fail. At
  * least one stream per link must carry a recognized audio ident
  * (the first such stream in BOS order is the link's digest
  * subject). Decode never throws.
  */
object OggCodec {

  /** One Ogg audio stream's digest view: codec ("vorbis"/"opus"),
    * ident-header metadata, and per-audio-packet digests (setup/tag
    * packets excluded). */
  final case class OggStream(serial: Long, codec: String, channels: Int,
      sampleRate: Int, packetDigests: Vector[String]) {
    def fingerprint: String = Mp4Codec.md5Hex(
      packetDigests.mkString("").getBytes("US-ASCII"))
  }

  import Bytes.{Crc32, be16, be24, le32, le32b, u8}

  private val ZeroCrcField = new Array[Byte](4)

  /** RFC 3533 checksum of the page at [from, until): CRC-32 (init 0,
    * no reflection, no final xor) with the page's own checksum field
    * (bytes 22–25) read as zeros. */
  private[graft] def pageCrc(b: Array[Byte], from: Int, until: Int): Int = {
    val head = Crc32(b, from, from + 22)
    Crc32(b, from + 26, until, init = Crc32(ZeroCrcField, 0, 4, init = head))
  }

  private val MaxPackets = 1 << 16
  private val MaxStreams = 8

  /** Per-serial reassembly state during the demux walk (BOS order is
    * the LinkedHashMap's insertion order; the packet cap is the
    * file-level totalPackets counter). */
  private final class StreamAcc(val serial: Long) {
    var nextSeq = 1L
    var sawEos = false
    var carry = new java.io.ByteArrayOutputStream()
    var carryOpen = false
    val packets = Vector.newBuilder[Array[Byte]]
  }

  def decodeOggDigest(b: Array[Byte]): Option[OggStream] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private val MaxLinks = 64

  private def decode0(b: Array[Byte]): Option[OggStream] = {
    if (b.length < 28) return None
    var p = 0
    var bosSection = true                  // grouped files front-load BOS
    var streams = new java.util.LinkedHashMap[Long, StreamAcc]()
    val links = Vector.newBuilder[java.util.LinkedHashMap[Long, StreamAcc]]
    var nLinks = 1
    var totalPackets = 0

    while (p < b.length) {
      if (p + 27 > b.length) return None
      if (b(p) != 'O' || b(p + 1) != 'g' || b(p + 2) != 'g' ||
          b(p + 3) != 'S') return None
      if (u8(b, p + 4) != 0) return None   // version
      val flags = u8(b, p + 5)
      val cont = (flags & 1) != 0
      val bos = (flags & 2) != 0
      val eos = (flags & 4) != 0
      val pageSerial = le32(b, p + 14)
      val seq = le32(b, p + 18)
      val wantCrc = le32(b, p + 22)
      val nSegs = u8(b, p + 26)
      val segTable = p + 27
      if (segTable + nSegs > b.length) return None
      var bodyLen = 0
      var i = 0
      while (i < nSegs) { bodyLen += u8(b, segTable + i); i += 1 }
      val body = segTable + nSegs
      val pageEnd = body + bodyLen
      if (pageEnd > b.length) return None
      if ((pageCrc(b, p, pageEnd) & 0xffffffffL) != wantCrc) return None

      val st = if (bos) {
        // a BOS page starts the NEXT LINK (RFC 3533 sequential
        // multiplexing) exactly when a data page has already closed
        // the current link's BOS section AND every stream of the
        // link is complete. While the file is still inside a link's
        // OPENING BOS section, an incoming BOS page is a grouped
        // sibling — even when every earlier stream is already closed
        // (the skeleton shape: a single-page BOS+EOS metadata stream
        // may legally precede the audio stream's BOS, and reading it
        // as a completed chain link would reject the whole file).
        // That rule also resolves the grammar's one true ambiguity —
        // a complete single-page stream followed by another BOS —
        // toward the grouped reading. A BOS page arriving past the
        // BOS section with any stream still open fails.
        if (!bosSection) {
          val it0 = streams.values().iterator()
          while (it0.hasNext) {
            val s = it0.next()
            if (!s.sawEos || s.carryOpen) return None
          }
          links += streams
          streams = new java.util.LinkedHashMap[Long, StreamAcc]()
          bosSection = true
          nLinks += 1
          if (nLinks > MaxLinks) return None
        }
        // within a link's BOS section: a serial may begin only once,
        // and the first page is seq 0
        if (streams.containsKey(pageSerial) ||
            seq != 0 || cont) return None
        if (streams.size >= MaxStreams) return None
        val s = new StreamAcc(pageSerial)
        streams.put(pageSerial, s)
        s
      } else {
        bosSection = false
        val s = streams.get(pageSerial)
        if (s == null) return None         // data page of an unopened stream
        if (s.sawEos) return None          // pages after the stream's EOS
        if (seq != s.nextSeq) return None  // lost page
        s.nextSeq += 1
        s
      }
      if (cont != st.carryOpen) return None // continuation mismatch
      if (eos) st.sawEos = true

      // packet reassembly: each lacing value < 255 ends a packet;
      // a trailing 255 leaves the packet open across the page edge
      var q = body
      i = 0
      while (i < nSegs) {
        val lace = u8(b, segTable + i)
        st.carry.write(b, q, lace)
        q += lace
        if (lace < 255) {
          st.packets += st.carry.toByteArray
          st.carry = new java.io.ByteArrayOutputStream()
          st.carryOpen = false
          totalPackets += 1
          if (totalPackets > MaxPackets) return None
        } else st.carryOpen = true
        i += 1
      }
      p = pageEnd
    }
    if (streams.isEmpty) return None
    links += streams
    // per link: every logical stream must be complete and closed, and
    // the first recognized audio stream in BOS order is the link's
    // digest subject (unrecognized siblings are tolerated grouped
    // streams). A CHAINED file concatenates its links' audio packets
    // — the file's content identity — so a re-paginated chained copy
    // collapses while a single-link prefix stays distinct. Every
    // link must carry an audio stream of the SAME codec; metadata
    // surfaces from the first link.
    var head: Option[OggStream] = None
    val digests = Vector.newBuilder[String]
    val lit = links.result().iterator
    while (lit.hasNext) {
      val link = lit.next()
      val it = link.values().iterator()
      var linkAudio: Option[OggStream] = None
      while (it.hasNext) {
        val st = it.next()
        if (!st.sawEos || st.carryOpen) return None
        val decoded = identify(st)
        // a stream whose first packet CLAIMS an audio ident (the
        // vorbis/OpusHead magic) but fails validation is a MALFORMED
        // audio stream, not a tolerated non-audio sibling — it
        // poisons the whole file at the gate
        if (decoded.isEmpty && looksAudio(st)) return None
        if (linkAudio.isEmpty) linkAudio = decoded
        else decoded.foreach { d =>
          // a SECOND valid audio stream of the SAME codec in one
          // grouped link makes "the link's content" ambiguous —
          // digesting only the first would collapse byte-distinct
          // audio (solo vs solo+sibling), so the file drops whole.
          // A different-codec audio sibling stays tolerated under
          // the documented first-audio-in-BOS-order rule.
          if (d.codec == linkAudio.get.codec) return None
        }
      }
      val la = linkAudio.getOrElse(return None)
      if (head.isEmpty) head = Some(la)
      else if (head.get.codec != la.codec) return None
      digests ++= la.packetDigests
    }
    head.map(h => h.copy(packetDigests = digests.result()))
  }

  /** Whether a reassembled stream's first packet carries an audio
    * ident MAGIC (regardless of whether the rest validates) — the
    * malformed-vs-foreign discriminator for the strictness gate. */
  private def looksAudio(st: StreamAcc): Boolean = {
    val all = st.packets.result()
    all.nonEmpty && {
      val id = all(0)
      (id.length >= 7 && u8(id, 0) == 1 &&
        new String(id, 1, 6, "US-ASCII") == "vorbis") ||
      (id.length >= 8 &&
        new String(id, 0, 8, "US-ASCII") == "OpusHead") ||
      (id.length >= 5 && u8(id, 0) == 0x7f &&
        new String(id, 1, 4, "US-ASCII") == "FLAC")
    }
  }

  /** Codec identification + header/content split for one reassembled
    * logical stream; None when the ident is neither Vorbis nor Opus
    * (a tolerated non-audio sibling in a grouped file). */
  private def identify(st: StreamAcc): Option[OggStream] = {
    val all = st.packets.result()
    if (all.isEmpty) return None
    val ident = all(0)
    // Vorbis I: three header packets (ident 1, comment 3, setup 5)
    if (ident.length >= 30 && u8(ident, 0) == 1 &&
        new String(ident, 1, 6, "US-ASCII") == "vorbis") {
      if (le32(ident, 7) != 0) return None // vorbis version
      val channels = u8(ident, 11)
      val sampleRate = le32(ident, 12).toInt
      if (channels < 1 || sampleRate <= 0) return None
      if (all.length < 3) return None
      if (all(1).length < 7 || u8(all(1), 0) != 3 ||
          new String(all(1), 1, 6, "US-ASCII") != "vorbis") return None
      if (all(2).length < 7 || u8(all(2), 0) != 5 ||
          new String(all(2), 1, 6, "US-ASCII") != "vorbis") return None
      val audio = all.drop(3)
      if (audio.isEmpty) return None
      return Some(OggStream(st.serial, "vorbis", channels, sampleRate,
        audio.map(pk => Mp4Codec.md5Hex(pk))))
    }
    // Opus (RFC 7845 §5): OpusHead ident + OpusTags comment
    if (ident.length >= 19 &&
        new String(ident, 0, 8, "US-ASCII") == "OpusHead") {
      val version = u8(ident, 8)
      // major version 0 required; minor bumps are compatible
      if (version < 1 || (version & 0xf0) != 0) return None
      val channels = u8(ident, 9)
      if (channels < 1) return None
      // the ident's input rate is informational; Opus output is 48 kHz
      val inRate = le32(ident, 12).toInt
      val sampleRate = if (inRate > 0) inRate else 48000
      if (all.length < 2) return None
      if (all(1).length < 8 ||
          new String(all(1), 0, 8, "US-ASCII") != "OpusTags") return None
      val audio = all.drop(2)
      if (audio.isEmpty) return None
      return Some(OggStream(st.serial, "opus", channels, sampleRate,
        audio.map(pk => Mp4Codec.md5Hex(pk))))
    }
    // FLAC-in-Ogg (the xiph Ogg-FLAC mapping, what `flac --ogg`
    // emits): first packet = 0x7F 'FLAC' major minor n-headers
    // 'fLaC' STREAMINFO; the DECLARED count of metadata header
    // packets follows (each a FLAC metadata block, excluded from
    // content like Vorbis setup / OpusTags); then audio frames.
    if (ident.length >= 51 && u8(ident, 0) == 0x7f &&
        new String(ident, 1, 4, "US-ASCII") == "FLAC") {
      if (u8(ident, 5) != 1) return None // mapping major version 1
      val nHdr = be16(ident, 7)
      if (new String(ident, 9, 4, "US-ASCII") != "fLaC") return None
      // STREAMINFO block: type 0, length 34 (the FLAC spec's fixed
      // size) — sample rate 20 bits, channels-1 3 bits at bytes 10-12
      if ((u8(ident, 13) & 0x7f) != 0) return None
      val blen = be24(ident, 14)
      if (blen != 34 || ident.length < 17 + 34) return None
      val sampleRate = (u8(ident, 27) << 12) | (u8(ident, 28) << 4) |
        (u8(ident, 29) >> 4)
      val channels = ((u8(ident, 29) >> 1) & 7) + 1
      if (sampleRate <= 0) return None
      if (all.length < 1 + nHdr + 1) return None
      // the declared header packets must be well-formed metadata
      // blocks (4-byte header whose length covers the rest exactly)
      var h = 1
      while (h <= nHdr) {
        val p = all(h)
        if (p.length < 4 || (u8(p, 0) & 0x7f) > 6) return None
        if (be24(p, 1) != p.length - 4) return None
        h += 1
      }
      val audio = all.drop(1 + nHdr)
      if (audio.isEmpty) return None
      return Some(OggStream(st.serial, "flac", channels, sampleRate,
        audio.map(pk => Mp4Codec.md5Hex(pk))))
    }
    None
  }

  // ---- fixture encoders ----

  /** The deterministic ascii audio-packet payload of packet `k` —
    * "{tag}:{scene}:{k}:" + md5("{key}{scene}_{k}"), dot-padded to
    * `len`: pure md5 arithmetic the DuckDB oracle recomputes verbatim
    * (tag "ogg"/key 'g' for Vorbis, "opus"/'o' for Opus — distinct
    * key spaces keep the two fixture families disjoint). */
  private[multimodal] def packetPayload(scene: Long, k: Int,
      len: Int, tag: String = "ogg", key: String = "g"): Array[Byte] = {
    val head = s"$tag:$scene:$k:" +
      Mp4Codec.md5Hex(s"$key${scene}_$k".getBytes("UTF-8"))
    require(head.length <= len, "packet too small")
    (head + "." * (len - head.length)).getBytes("US-ASCII")
  }

  private def identPacket(channels: Int, rate: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write(1); o.write("vorbis".getBytes("US-ASCII"))
    def le(v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    le(0)                                  // version
    o.write(channels)
    le(rate)
    le(0); le(rate * 16); le(0)            // bitrate max/nominal/min
    o.write(0xb8)                          // blocksizes 2^8 / 2^11
    o.write(1)                             // framing bit
    o.toByteArray
  }

  private def headerPacket(typ: Int, body: String): Array[Byte] =
    (typ.toByte +: "vorbis".getBytes("US-ASCII")) ++
      body.getBytes("US-ASCII") :+ 1.toByte

  /** RFC 7845 §5.1 identification header: magic, version 1, channel
    * count, pre-skip, input sample rate, output gain 0, mapping
    * family 0 (mono/stereo). */
  private def opusHead(channels: Int, rate: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write("OpusHead".getBytes("US-ASCII"))
    o.write(1)                             // version
    o.write(channels)
    o.write(312 & 0xff); o.write(312 >> 8) // pre-skip
    o.write(rate & 0xff); o.write((rate >> 8) & 0xff)
    o.write((rate >> 16) & 0xff); o.write((rate >>> 24) & 0xff)
    o.write(0); o.write(0)                 // output gain
    o.write(0)                             // mapping family
    o.toByteArray
  }

  /** RFC 7845 §5.2 comment header: magic + vendor + zero tags. */
  private def opusTags(scene: Long,
      vendorText: Option[String] = None): Array[Byte] = {
    val vendor = vendorText.getOrElse(s"graft-fixture-$scene")
      .getBytes("US-ASCII")
    val o = new java.io.ByteArrayOutputStream()
    o.write("OpusTags".getBytes("US-ASCII"))
    o.write(vendor.length & 0xff); o.write((vendor.length >> 8) & 0xff)
    o.write(0); o.write(0)
    o.write(vendor)
    o.write(0); o.write(0); o.write(0); o.write(0) // tag count
    o.toByteArray
  }

  /** Build the complete encoded page sequence of ONE logical stream:
    * `headerLayout` header packets per page group (the spec layouts:
    * Vorbis puts ident alone on the BOS page then comment+setup
    * together; Opus puts OpusHead alone then OpusTags alone), then
    * `pkts` laid out `packetsPerPage` at a time (packets longer than
    * 255 exercise multi-lacing; `splitAcrossPages` ends a page
    * mid-packet so the 255-continuation path runs for real). First
    * page carries BOS, last carries EOS. */
  private def buildPages(serial: Long,
      headerLayout: Seq[Seq[Array[Byte]]], pkts: Array[Array[Byte]],
      packetsPerPage: Int, splitAcrossPages: Boolean)
      : Vector[Array[Byte]] = {
    require(pkts.nonEmpty && packetsPerPage >= 1)
    val pages = Vector.newBuilder[Array[Byte]]
    var seq = 0L

    def page(flags: Int, granule: Long,
        segments: Seq[Array[Byte]], openTail: Boolean): Unit = {
      // lacing: each segment laced independently; an "open" final
      // segment is a packet prefix whose length must be ≡ 0 mod 255
      val laces = Seq.newBuilder[Int]
      segments.zipWithIndex.foreach { case (s, i) =>
        val open = openTail && i == segments.length - 1
        var rem = s.length
        while (rem >= 255) { laces += 255; rem -= 255 }
        if (!open) laces += rem
        else require(rem == 0, "open packet tail must lace to 255s")
      }
      val lace = laces.result()
      require(lace.length <= 255, "too many segments for one page")
      val header = new java.io.ByteArrayOutputStream()
      header.write("OggS".getBytes("US-ASCII"))
      header.write(0); header.write(flags)
      var g = granule
      var i = 0
      while (i < 8) { header.write((g & 0xff).toInt); g >>= 8; i += 1 }
      header.write(le32b(serial.toInt)); header.write(le32b(seq.toInt))
      header.write(le32b(0))               // CRC placeholder
      header.write(lace.length)
      lace.foreach(header.write)
      val hb = header.toByteArray
      val bb = segments.toArray.flatten
      val pageBytes = hb ++ bb
      System.arraycopy(le32b(pageCrc(pageBytes, 0, pageBytes.length)), 0,
        pageBytes, 22, 4)
      pages += pageBytes
      seq += 1
    }

    headerLayout.zipWithIndex.foreach { case (group, i) =>
      page(if (i == 0) 2 else 0, 0, group, openTail = false)
    }
    val nPackets = pkts.length
    var k = 0
    while (k < nPackets) {
      val n = math.min(packetsPerPage, nPackets - k)
      val group = (0 until n).map(j => pkts(k + j))
      val last = k + n >= nPackets
      if (splitAcrossPages && !last && (k / packetsPerPage) % 2 == 0) {
        // end this page mid-packet: emit the group plus the next
        // packet's first 255-multiple prefix, continue it on the
        // following page
        val nxt = pkts(k + n)
        val cut = (nxt.length / 255) * 255
        if (cut > 0) {
          page(0, (k + n).toLong * 256, group :+ nxt.take(cut),
            openTail = true)
          val contEos = if (k + n + 1 >= nPackets) 4 else 0
          page(1 | contEos, (k + n + 1).toLong * 256,
            Seq(nxt.drop(cut)), openTail = false)
          k += n + 1
        } else {
          page(0, (k + n).toLong * 256, group, openTail = false)
          k += n
        }
      } else {
        page(if (last) 4 else 0, (k + n).toLong * 256, group,
          openTail = false)
        k += n
      }
    }
    pages.result()
  }

  /** Encode a planted Ogg/Vorbis-framed stream: the three header
    * packets (ident alone on the BOS page, comment+setup on page 1),
    * then `nPackets` deterministic audio packets of `packetLen` bytes.
    * Re-paginated copies (different layout knobs) keep the identical
    * packets — the fingerprint must not move. `commentText` rewrites
    * the comment header's body (the RE-TAGGED duplicate shape —
    * vorbiscomment edits metadata in place): setup packets are
    * excluded from content, so the fingerprint must not move. */
  def encodeOgg(scene: Long, nPackets: Int, channels: Int = 1,
      rate: Int = 8000, serial: Long = 0x67726166L,
      packetLen: Int = 300, packetsPerPage: Int = 2,
      splitAcrossPages: Boolean = false,
      commentText: Option[String] = None): Array[Byte] = {
    require(nPackets >= 1 && packetLen >= 60 && packetsPerPage >= 1)
    val pkts = Array.tabulate(nPackets)(k =>
      packetPayload(scene, k, packetLen))
    val pages = buildPages(serial,
      Seq(Seq(identPacket(channels, rate)),
        Seq(headerPacket(3,
            commentText.getOrElse(s"comment-for-$scene")),
          headerPacket(5, s"setup-for-$scene"))),
      pkts, packetsPerPage, splitAcrossPages)
    pages.toArray.flatten
  }

  /** Encode a planted Ogg/Opus stream (RFC 7845 layout: OpusHead
    * alone on the BOS page, OpusTags alone on page 1, then audio
    * packets) — the Opus half of the digest tier's fixture corpus.
    * `vendorText` rewrites the OpusTags vendor string (the RE-TAGGED
    * duplicate shape): header packets are excluded from content, so
    * the fingerprint must not move. */
  def encodeOpus(scene: Long, nPackets: Int, channels: Int = 2,
      rate: Int = 48000, serial: Long = 0x6f707573L,
      packetLen: Int = 300, packetsPerPage: Int = 2,
      splitAcrossPages: Boolean = false,
      vendorText: Option[String] = None): Array[Byte] = {
    require(nPackets >= 1 && packetLen >= 60 && packetsPerPage >= 1)
    val pkts = Array.tabulate(nPackets)(k =>
      packetPayload(scene, k, packetLen, tag = "opus", key = "o"))
    val pages = buildPages(serial,
      Seq(Seq(opusHead(channels, rate)),
        Seq(opusTags(scene, vendorText))),
      pkts, packetsPerPage, splitAcrossPages)
    pages.toArray.flatten
  }

  /** The Ogg-FLAC mapping's first packet: 0x7F 'FLAC' 1 0, the
    * declared header-packet count, 'fLaC', and a 34-byte STREAMINFO
    * (16-bit stereo-capable fields; sample rate and channels packed
    * per the FLAC spec). */
  private def flacFirstPacket(channels: Int, rate: Int,
      nHeaders: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write(0x7f); o.write("FLAC".getBytes("US-ASCII"))
    o.write(1); o.write(0)                 // mapping version 1.0
    o.write((nHeaders >> 8) & 0xff); o.write(nHeaders & 0xff)
    o.write("fLaC".getBytes("US-ASCII"))
    o.write(0x00)                          // STREAMINFO, not last
    o.write(0); o.write(0); o.write(34)    // block length
    o.write(0x10); o.write(0)              // min blocksize 4096
    o.write(0x10); o.write(0)              // max blocksize 4096
    o.write(0); o.write(0); o.write(0)     // min framesize
    o.write(0); o.write(0); o.write(0)     // max framesize
    o.write((rate >> 12) & 0xff)           // sr[19:12]
    o.write((rate >> 4) & 0xff)            // sr[11:4]
    o.write(((rate & 0xf) << 4) | ((channels - 1) << 1)) // +bps hi
    o.write(0xf0)                          // bps-1 = 15 (16-bit), ts
    var i = 0
    while (i < 4 + 16) { o.write(0); i += 1 } // total samples + md5
    o.toByteArray
  }

  /** A FLAC VORBIS_COMMENT metadata block (type 4) as an Ogg-FLAC
    * header packet — the re-taggable metadata slot. */
  private def flacCommentBlock(text: String): Array[Byte] = {
    val vendor = text.getBytes("US-ASCII")
    val body = new java.io.ByteArrayOutputStream()
    body.write(vendor.length & 0xff); body.write((vendor.length >> 8) & 0xff)
    body.write(0); body.write(0)
    body.write(vendor, 0, vendor.length)
    body.write(0); body.write(0); body.write(0); body.write(0)
    val b = body.toByteArray
    val o = new java.io.ByteArrayOutputStream()
    o.write(0x84)                          // last-metadata | type 4
    o.write((b.length >> 16) & 0xff); o.write((b.length >> 8) & 0xff)
    o.write(b.length & 0xff)
    o.write(b, 0, b.length)
    o.toByteArray
  }

  /** Encode a planted Ogg-FLAC stream (the xiph mapping `flac --ogg`
    * emits: the 0x7F'FLAC' first packet alone on the BOS page, the
    * declared metadata header packet, then audio frames). Header
    * packets are excluded from content, so a `commentText` rewrite —
    * the metaflac re-tag shape — must not move the fingerprint. */
  def encodeOggFlac(scene: Long, nPackets: Int, channels: Int = 2,
      rate: Int = 44100, serial: Long = 0x666c6163L,
      packetLen: Int = 300, packetsPerPage: Int = 2,
      splitAcrossPages: Boolean = false,
      commentText: Option[String] = None): Array[Byte] = {
    require(nPackets >= 1 && packetLen >= 60 && packetsPerPage >= 1)
    val pkts = Array.tabulate(nPackets)(k =>
      packetPayload(scene, k, packetLen, tag = "flac", key = "f"))
    val pages = buildPages(serial,
      Seq(Seq(flacFirstPacket(channels, rate, nHeaders = 1)),
        Seq(flacCommentBlock(
          commentText.getOrElse(s"flac-fixture-$scene")))),
      pkts, packetsPerPage, splitAcrossPages)
    pages.toArray.flatten
  }

  /** Encode a CHAINED Ogg/Vorbis file (RFC 3533 sequential
    * multiplexing — the icecast/radio-dump shape): one complete
    * logical stream per entry of `linkPacketCounts`, concatenated,
    * each link with its own header packets and serial. Audio packets
    * carry GLOBAL indices (link boundaries are framing), so the
    * chained file's fingerprint equals the ordered concatenation of
    * its links' packets and a re-paginated chained copy collapses. */
  def encodeOggChained(scene: Long, linkPacketCounts: Seq[Int],
      channels: Int = 1, rate: Int = 8000, packetLen: Int = 300,
      packetsPerPage: Int = 2,
      splitAcrossPages: Boolean = false): Array[Byte] = {
    require(linkPacketCounts.nonEmpty && linkPacketCounts.forall(_ >= 1))
    val out = new java.io.ByteArrayOutputStream()
    var base = 0
    linkPacketCounts.zipWithIndex.foreach { case (np, j) =>
      val pkts = Array.tabulate(np)(k =>
        packetPayload(scene, base + k, packetLen))
      buildPages(0x67726166L + j,
        Seq(Seq(identPacket(channels, rate)),
          Seq(headerPacket(3, s"comment-for-$scene-link$j"),
            headerPacket(5, s"setup-for-$scene-link$j"))),
        pkts, packetsPerPage, splitAcrossPages)
        .foreach(out.write)
      base += np
    }
    out.toByteArray
  }

  /** Encode a GROUPED (multiplexed) Ogg file: the SAME Opus audio
    * stream as [[encodeOpus]] interleaved with a non-audio metadata
    * sibling stream (an unrecognized ident the demux must tolerate).
    * Both BOS pages lead the file per RFC 3533 §6; data pages
    * alternate. The audio packets are byte-identical to the plain
    * encode, so the fingerprint must not move — the grouped re-mux
    * is the duplicate shape this encoder exists to plant. */
  def encodeOpusMultiplexed(scene: Long, nPackets: Int,
      channels: Int = 2, rate: Int = 48000,
      packetLen: Int = 300): Array[Byte] = {
    val audio = buildPages(0x6f707573L,
      Seq(Seq(opusHead(channels, rate)), Seq(opusTags(scene))),
      Array.tabulate(nPackets)(k =>
        packetPayload(scene, k, packetLen, tag = "opus", key = "o")),
      packetsPerPage = 1, splitAcrossPages = false)
    val metaPkts = Array.tabulate(2)(k =>
      s"meta-$scene-$k".getBytes("US-ASCII"))
    val meta = buildPages(0x6d657461L,
      Seq(Seq(s"graftmeta-$scene".getBytes("US-ASCII"))),
      metaPkts, packetsPerPage = 1, splitAcrossPages = false)
    // BOS section first (audio then meta), then alternate data pages
    val out = new java.io.ByteArrayOutputStream()
    out.write(audio.head); out.write(meta.head)
    val a = audio.tail.iterator
    val m = meta.tail.iterator
    while (a.hasNext || m.hasNext) {
      if (a.hasNext) out.write(a.next())
      if (m.hasNext) out.write(m.next())
    }
    out.toByteArray
  }
}
