package graft.multimodal

/** WebM / Matroska (EBML, RFC 8794 + the public Matroska element
  * registry) container walk for the clip-corpus tier — the other
  * dominant crawl VIDEO container beside MP4, closed with the same
  * documented DIGEST contract as [[Mp4Codec.decodeAvcDigest]]: coded
  * frames are NOT pixel-decoded (no VP8/VP9/AV1 inter decode is
  * attempted or implied). The tier walks the REAL EBML grammar —
  * vint-coded element IDs and sizes (the all-ones "unknown size"
  * form is accepted exactly where the Matroska schema allows it:
  * Segment and Cluster — the browser-MediaRecorder / live-mux shape;
  * everywhere else it rejects), the EBML header's
  * DocType, the Segment's Tracks (track number/type/CodecID, video
  * dims, audio channels), then every Cluster's SimpleBlocks and
  * BlockGroup Blocks in stream order — and surfaces one CONTENT
  * DIGEST per block frame of the selected track (first video track,
  * else first audio track, so `.weba` audio-only files ride the same
  * tier), reduced to a stream fingerprint.
  *
  * Why this is the scale-relevant surface: the canonical WebM
  * duplicate is the RE-MUXED copy — identical coded frames under a
  * different cluster layout (muxers re-cluster freely; cluster
  * timecodes, block grouping, and SimpleBlock-vs-BlockGroup framing
  * all change). Blocks are framing, frames are content: digesting
  * frame payloads makes exact dedup invariant under re-clustering
  * and re-grouping with no video decoder, while pixel-space NEAR-dup
  * stays on the decodable tiers.
  *
  * Strictness: every element's size must land in its parent, the
  * EBML header must carry a webm/matroska DocType, a known-size
  * Segment must reach exactly end-of-file (trailing bytes fail), an
  * UNKNOWN-size Segment extends to end-of-file with every byte still
  * tiling into well-formed elements, an UNKNOWN-size Cluster ends at
  * the next top-level element ID (RFC 8794 §6.2's next-non-child
  * rule) and admits only recognized cluster children, block track
  * numbers must parse and TrackEntry numbers must be unique, laced
  * frames must tile their block with no size-0 frames, a block
  * extent past the buffer drops the whole file, and a CRC-32
  * element in the spec position (first child of Segment, Tracks,
  * TrackEntry, Cluster, or BlockGroup) is VERIFIED — RFC 8794
  * §11.3.1 little-endian IEEE CRC over the master's remainder,
  * deferred to the found boundary for unknown-size clusters — with
  * a mismatch dropping the file whole. A cut at an exact
  * element boundary of an unknown-size file is a structurally
  * complete shorter stream (the MP4 fragment-boundary / MP3
  * frame-boundary precedent); any other cut fails whole. Decode
  * never throws.
  */
object WebmCodec {

  /** One WebM stream's digest view. `width`/`height` are 0 for an
    * audio-track selection; `channels` is 0 for video. */
  final case class WebmStream(trackType: Int, codecId: String,
      width: Int, height: Int, channels: Int,
      frameDigests: Vector[String]) {
    def fingerprint: String = Mp4Codec.md5Hex(
      frameDigests.mkString("").getBytes("US-ASCII"))
  }

  import Bytes.{le32, le32b, u8}

  /** Read an EBML element ID at `p` (raw bytes INCLUDING the length
    * marker, per RFC 8794 §5): Some(id, nextOffset). */
  private def readId(b: Array[Byte], p: Int, end: Int): Option[(Long, Int)] = {
    if (p >= end) return None
    val first = u8(b, p)
    if (first == 0) return None
    val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
    if (len < 1 || len > 4 || p + len > end) return None
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | u8(b, p + i); i += 1 }
    Some((v, p + len))
  }

  /** Read an EBML size vint at `p` (marker stripped): Some(size,
    * nextOffset), with size -1 for the all-ones "unknown size"
    * pattern. Only the two elements the Matroska schema marks
    * unknown-size-allowed (Segment, Cluster) accept it — every other
    * caller goes through [[readSize]], which rejects it. */
  private def readSizeU(b: Array[Byte], p: Int, end: Int): Option[(Long, Int)] = {
    if (p >= end) return None
    val first = u8(b, p)
    if (first == 0) return None
    val len = java.lang.Integer.numberOfLeadingZeros(first) - 23
    if (len < 1 || len > 8 || p + len > end) return None
    var v = (first & (0xff >>> len)).toLong
    var i = 1
    while (i < len) { v = (v << 8) | u8(b, p + i); i += 1 }
    // unknown size: all data bits set
    if (v == (1L << (7 * len)) - 1) Some((-1L, p + len))
    else Some((v, p + len))
  }

  /** [[readSizeU]] with the unknown-size form rejected — the rule for
    * every element except Segment and Cluster. */
  private def readSize(b: Array[Byte], p: Int, end: Int): Option[(Long, Int)] =
    readSizeU(b, p, end).filter(_._1 >= 0)

  /** The top-level-of-Segment element IDs — the boundary set that
    * terminates an unknown-size Cluster (the standard parser rule: an
    * unknown-size element ends where the next element that is not a
    * valid child begins, RFC 8794 §6.2). */
  private val TopLevelIds: Set[Long] = Set(
    0x1F43B675L, 0x1654AE6BL, 0x1549A966L, 0x114D9B74L, 0x1C53BB6BL,
    0x1043A770L, 0x1254C367L, 0x1941A469L)

  /** The Cluster child IDs the walk recognizes — inside an
    * UNKNOWN-size Cluster every child must come from this set (an
    * unrecognized ID is indistinguishable from the cluster's end, so
    * strictness demands the drop); a KNOWN-size Cluster keeps the
    * original skip-with-bounds tolerance. */
  private val ClusterChildIds: Set[Long] = Set(
    0xE7L, 0xA7L, 0xABL, 0xA3L, 0xA0L, 0xECL, 0xBFL, 0x5854L)

  /** Unsigned integer element payload (1..8 bytes). */
  private def uint(b: Array[Byte], from: Int, until: Int): Option[Long] = {
    val n = until - from
    if (n < 1 || n > 8) return None
    var v = 0L
    var i = from
    while (i < until) { v = (v << 8) | u8(b, i); i += 1 }
    Some(v)
  }

  private val MaxBlocks = 1 << 16
  private val MaxTracks = 16

  /** RFC 8794 §11.3.1 CRC-32 gate: when a master element's FIRST
    * child is the CRC-32 element (id 0xBF, 4-byte little-endian IEEE
    * CRC over the REMAINDER of the master's data), verify it and
    * return the offset past it; Some(from) when absent; None on a
    * malformed CRC element or a mismatch (a wrong checksum means the
    * master's bytes are damaged — drop whole, the tier's rule). Only
    * the spec position (first child) is verified; the spec forbids
    * any other placement, and the walk REJECTS a 0xBF child seen past
    * the first position in every master it descends — a mis-placed
    * checksum is malformed framing, never silently skipped. */
  private def crcGate(b: Array[Byte], from: Int, until: Int): Option[Int] = {
    if (from >= until || u8(b, from) != 0xBF) return Some(from)
    val (sz, sp) = readSize(b, from + 1, until).getOrElse(return None)
    if (sz != 4 || sp + 4 > until) return None
    if (crc32(b, sp + 4, until) != le32(b, sp)) None
    else Some(sp + 4)
  }

  private def crc32(b: Array[Byte], from: Int, until: Int): Long = {
    val c = new java.util.zip.CRC32()
    c.update(b, from, until - from)
    c.getValue
  }

  private final case class Track(number: Long, trackType: Int,
    codecId: String, width: Int, height: Int, channels: Int)

  def decodeWebmDigest(b: Array[Byte]): Option[WebmStream] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[WebmStream] = {
    if (b.length < 8) return None
    // EBML header
    val (hid, hs) = readId(b, 0, b.length).getOrElse(return None)
    if (hid != 0x1A45DFA3L) return None
    val (hsz, hps) = readSize(b, hs, b.length).getOrElse(return None)
    val hEnd = hps + hsz
    if (hEnd > b.length) return None
    var docTypeOk = false
    var p = hps
    while (p < hEnd) {
      val (id, ip) = readId(b, p, hEnd.toInt).getOrElse(return None)
      val (sz, sp) = readSize(b, ip, hEnd.toInt).getOrElse(return None)
      if (sp + sz > hEnd) return None
      if (id == 0x4282L) {                  // DocType
        val dt = new String(b, sp, sz.toInt, "US-ASCII")
        docTypeOk = dt == "webm" || dt == "matroska"
      }
      p = (sp + sz).toInt
    }
    if (!docTypeOk) return None

    // Segment: a KNOWN size must reach exactly end-of-file (trailing
    // bytes / truncation fail); the UNKNOWN-size form — what browser
    // MediaRecorder and live muxers emit — extends to end-of-file by
    // definition, and every byte must still parse into well-formed
    // elements (the loop below enforces exact tiling either way)
    val (sid, ss) = readId(b, hEnd.toInt, b.length).getOrElse(return None)
    if (sid != 0x18538067L) return None
    val (ssz, sps) = readSizeU(b, ss, b.length).getOrElse(return None)
    if (ssz >= 0 && sps + ssz != b.length) return None
    val segEnd = b.length

    val tracks = Seq.newBuilder[Track]
    val trackNums = scala.collection.mutable.Set.empty[Long]
    var nTracks = 0
    val frames = Vector.newBuilder[(Long, Array[Byte])]
    var nBlocks = 0

    // one block (SimpleBlock payload or BlockGroup>Block payload):
    // track vint, 2-byte timecode, flags, then the frame data —
    // either a single frame or a LACED run (Matroska §10.3: Xiph
    // 255-continuation sizes, fixed-size equal split, or EBML
    // first-size + signed-vint deltas). Laced frames digest
    // individually in order, so a re-laced copy of the same frames
    // fingerprints identically. Malformed lacing (sizes overrunning
    // the block, a non-dividing fixed split, slack after the last
    // frame) drops the whole file.
    def block(from: Int, until: Int): Boolean = {
      val first = if (from < until) u8(b, from) else return false
      if (first == 0) return false
      val tlen = java.lang.Integer.numberOfLeadingZeros(first) - 23
      if (tlen < 1 || tlen > 8 || from + tlen + 3 > until) return false
      var tn = (first & (0xff >>> tlen)).toLong
      var i = 1
      while (i < tlen) { tn = (tn << 8) | u8(b, from + i); i += 1 }
      val flags = u8(b, from + tlen + 2)
      var q = from + tlen + 3
      val lacing = (flags >> 1) & 3
      if (lacing == 0) {
        frames += ((tn, java.util.Arrays.copyOfRange(b, q, until)))
        nBlocks += 1
        return nBlocks <= MaxBlocks
      }
      if (q >= until) return false
      val n = u8(b, q) + 1                  // frame count
      q += 1
      val sizes = new Array[Int](n)
      lacing match {
        case 1 =>                           // Xiph: 255-run sizes
          i = 0
          while (i < n - 1) {
            var sz = 0
            var v = 255
            while (v == 255) {
              if (q >= until) return false
              v = u8(b, q); q += 1; sz += v
            }
            // size-0 laced frames reject uniformly across all three
            // lacing forms (matching the EBML delta path's rule)
            if (sz == 0) return false
            sizes(i) = sz
            i += 1
          }
        case 2 =>                           // fixed-size: equal split
          val rest = until - q
          if (n == 0 || rest == 0 || rest % n != 0) return false
          java.util.Arrays.fill(sizes, rest / n)
        case _ if n == 1 => ()              // no size table for one frame
        case _ =>                           // EBML: vint + signed deltas
          if (q >= until) return false
          val f0 = u8(b, q)
          if (f0 == 0) return false
          val l0 = java.lang.Integer.numberOfLeadingZeros(f0) - 23
          if (l0 < 1 || l0 > 8 || q + l0 > until) return false
          var v0 = (f0 & (0xff >>> l0)).toLong
          i = 1
          while (i < l0) { v0 = (v0 << 8) | u8(b, q + i); i += 1 }
          q += l0
          if (v0 <= 0 || v0 > (1 << 26)) return false
          sizes(0) = v0.toInt
          var prev = v0
          i = 1
          while (i < n - 1) {
            if (q >= until) return false
            val fd = u8(b, q)
            if (fd == 0) return false
            val ld = java.lang.Integer.numberOfLeadingZeros(fd) - 23
            if (ld < 1 || ld > 8 || q + ld > until) return false
            var dv = (fd & (0xff >>> ld)).toLong
            var j = 1
            while (j < ld) { dv = (dv << 8) | u8(b, q + j); j += 1 }
            q += ld
            val delta = dv - ((1L << (7 * ld - 1)) - 1)
            prev += delta
            if (prev <= 0 || prev > (1 << 26)) return false
            sizes(i) = prev.toInt
            i += 1
          }
      }
      if (lacing != 2) {                    // last frame = remainder
        var sum = 0L
        i = 0
        while (i < n - 1) { sum += sizes(i); i += 1 }
        val last = (until - q) - sum
        if (last < 1 || last > (1 << 26)) return false
        sizes(n - 1) = last.toInt
      }
      i = 0
      while (i < n) {
        val sz = sizes(i)
        if (sz < 0 || q + sz > until) return false
        frames += ((tn, java.util.Arrays.copyOfRange(b, q, q + sz)))
        q += sz
        nBlocks += 1
        if (nBlocks > MaxBlocks) return false
        i += 1
      }
      q == until                            // laced frames tile exactly
    }

    var q = crcGate(b, sps, segEnd).getOrElse(return None)
    while (q < segEnd) {
      val (id, ip) = readId(b, q, segEnd).getOrElse(return None)
      val (sz, sp) = readSizeU(b, ip, segEnd).getOrElse(return None)
      // only Cluster may be unknown-size below the Segment
      if (sz < 0 && id != 0x1F43B675L) return None
      val e = sp + math.max(sz, 0L)
      if (e > segEnd) return None
      q = e.toInt                           // cluster case may override
      id match {
        case 0x1654AE6BL =>                 // Tracks
          var t = crcGate(b, sp, e.toInt).getOrElse(return None)
          while (t < e) {
            val (tid, tip) = readId(b, t, e.toInt).getOrElse(return None)
            if (tid == 0xBFL) return None   // CRC-32 past first child
            val (tsz, tsp) = readSize(b, tip, e.toInt).getOrElse(return None)
            if (tsp + tsz > e) return None
            if (tid == 0xAEL) {             // TrackEntry
              nTracks += 1
              if (nTracks > MaxTracks) return None
              var num = -1L; var typ = -1; var codec = ""
              var w = 0; var h = 0; var ch = 0
              val tEnd = (tsp + tsz).toInt
              var u = crcGate(b, tsp, tEnd).getOrElse(return None)
              while (u < tEnd) {
                val (eid, eip) = readId(b, u, tEnd).getOrElse(return None)
                if (eid == 0xBFL) return None // CRC-32 past first child
                val (esz, esp) = readSize(b, eip, tEnd).getOrElse(return None)
                if (esp + esz > tEnd) return None
                val eEnd = (esp + esz).toInt
                eid match {
                  case 0xD7L => num = uint(b, esp, eEnd).getOrElse(return None)
                  case 0x83L => typ = uint(b, esp, eEnd).getOrElse(return None).toInt
                  case 0x86L => codec = new String(b, esp, esz.toInt, "US-ASCII")
                  case 0xE0L =>             // Video
                    var v = crcGate(b, esp, eEnd).getOrElse(return None)
                    while (v < eEnd) {
                      val (vid, vip) = readId(b, v, eEnd).getOrElse(return None)
                      if (vid == 0xBFL) return None
                      val (vsz, vsp) = readSize(b, vip, eEnd).getOrElse(return None)
                      if (vsp + vsz > eEnd) return None
                      if (vid == 0xB0L)
                        w = uint(b, vsp, (vsp + vsz).toInt).getOrElse(return None).toInt
                      if (vid == 0xBAL)
                        h = uint(b, vsp, (vsp + vsz).toInt).getOrElse(return None).toInt
                      v = (vsp + vsz).toInt
                    }
                  case 0xE1L =>             // Audio
                    var v = crcGate(b, esp, eEnd).getOrElse(return None)
                    while (v < eEnd) {
                      val (vid, vip) = readId(b, v, eEnd).getOrElse(return None)
                      if (vid == 0xBFL) return None
                      val (vsz, vsp) = readSize(b, vip, eEnd).getOrElse(return None)
                      if (vsp + vsz > eEnd) return None
                      if (vid == 0x9FL)     // Channels
                        ch = uint(b, vsp, (vsp + vsz).toInt).getOrElse(return None).toInt
                      v = (vsp + vsz).toInt
                    }
                  case _ => ()
                }
                u = eEnd
              }
              if (num < 1 || typ < 0 || codec.isEmpty) return None
              // a duplicated TrackNumber would merge two tracks'
              // blocks into one digest stream — malformed, drop whole
              if (!trackNums.add(num)) return None
              tracks += Track(num, typ, codec, w, h, ch)
            }
            t = (tsp + tsz).toInt
          }
        case 0x1F43B675L =>                 // Cluster
          // a KNOWN size bounds the children, which must tile it
          // exactly; the UNKNOWN-size form (the MediaRecorder /
          // live-mux shape) ends where the next TOP-LEVEL element ID
          // begins — or at end-of-file. Inside an unknown-size
          // cluster every child must be a RECOGNIZED cluster child:
          // an unrecognized ID is indistinguishable from the
          // cluster's end, so strictness drops the file whole.
          val unknown = sz < 0
          val bound = if (unknown) segEnd else e.toInt
          var c = sp
          var open = true
          // CRC-32 as the first child covers the cluster's REMAINDER;
          // for an unknown-size cluster that extent is only known
          // once the boundary is found, so verification is deferred
          // to after the walk (covering [crcFrom, c) either way)
          var crcWant = -1L
          var crcFrom = -1
          if (c < bound && u8(b, c) == 0xBF) {
            val (xsz, xsp) = readSize(b, c + 1, bound)
              .getOrElse(return None)
            if (xsz != 4 || xsp + 4 > bound) return None
            crcWant = le32(b, xsp)
            crcFrom = xsp + 4
            c = crcFrom
          }
          // Void is both a valid Cluster child and a valid top-level
          // element, so a trailing Void run before the found boundary
          // is genuinely ambiguous — the walk attributes it to the
          // SEGMENT level (tail tracks the end of the last non-Void
          // child), so a CRC-leading unknown-size cluster never has
          // its checksum stretched over a top-level-adjacent Void
          var tail = c
          while (open && c < bound) {
            val (cid, cip) = readId(b, c, bound).getOrElse(return None)
            if (unknown && TopLevelIds.contains(cid)) open = false
            else if (unknown && !ClusterChildIds.contains(cid))
              return None
            else {
              val (csz, csp) = readSize(b, cip, bound)
                .getOrElse(return None)
              if (csp + csz > bound) return None
              val cEnd = (csp + csz).toInt
              cid match {
                case 0xA3L =>               // SimpleBlock
                  if (!block(csp, cEnd)) return None
                case 0xA0L =>               // BlockGroup
                  var g = crcGate(b, csp, cEnd).getOrElse(return None)
                  while (g < cEnd) {
                    val (gid, gip) = readId(b, g, cEnd).getOrElse(return None)
                    if (gid == 0xBFL) return None // CRC-32 past first
                    val (gsz, gsp) = readSize(b, gip, cEnd).getOrElse(return None)
                    if (gsp + gsz > cEnd) return None
                    if (gid == 0xA1L && !block(gsp, (gsp + gsz).toInt))
                      return None
                    g = (gsp + gsz).toInt
                  }
                case 0xBFL => return None   // CRC-32 past first child
                case _ => ()                // Timecode, Void, …
              }
              c = cEnd
              if (cid != 0xECL) tail = c
            }
          }
          val cBoundary = if (unknown) tail else c
          if (crcWant >= 0 && crc32(b, crcFrom, cBoundary) != crcWant)
            return None
          q = cBoundary
        case 0xBFL => return None           // CRC-32 past first child
        case _ => ()                        // Info, SeekHead, Cues, …
      }
    }

    val ts = tracks.result()
    // the digest subject: first video track, else first audio track
    val sel = ts.find(_.trackType == 1).orElse(ts.find(_.trackType == 2))
      .getOrElse(return None)
    val mine = frames.result().filter(_._1 == sel.number).map(_._2)
    if (mine.isEmpty) return None
    Some(WebmStream(sel.trackType, sel.codecId, sel.width, sel.height,
      sel.channels, mine.map(fr => Mp4Codec.md5Hex(fr))))
  }

  // ---- fixture encoder ----

  /** The deterministic ascii frame payload of block `k` —
    * "{tag}:{scene}:{k}:" + md5("{key}{scene}_{k}") dot-padded to
    * `len` (the planted families keep the oracle's 180): pure md5
    * arithmetic the DuckDB oracle recomputes verbatim (tag "webm"/
    * key "w" for video tracks, "weba"/"x" for audio — distinct key
    * spaces keep the two fixture families' fingerprints disjoint). */
  private[multimodal] def framePayload(scene: Long, k: Int,
      len: Int = 180, tag: String = "webm",
      key: String = "w"): Array[Byte] = {
    val head = s"$tag:$scene:$k:" +
      Mp4Codec.md5Hex(s"$key${scene}_$k".getBytes("UTF-8"))
    require(head.length <= len, "frame too small")
    (head + "." * (len - head.length)).getBytes("US-ASCII")
  }

  private def idBytes(id: Long): Array[Byte] = {
    val n =
      if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
      else if (id <= 0xffffffL) 3 else 4
    Array.tabulate(n)(i => ((id >> (8 * (n - 1 - i))) & 0xff).toByte)
  }

  private def sizeBytes(sz: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && sz >= (1L << (7 * n)) - 1) n += 1
    val out = new Array[Byte](n)
    var v = sz | (1L << (7 * n))
    var i = n - 1
    while (i >= 0) { out(i) = (v & 0xff).toByte; v >>= 8; i -= 1 }
    out
  }

  private def el(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ sizeBytes(payload.length) ++ payload

  /** The unknown-size element form: a 1-byte all-ones size vint — the
    * shape streaming muxers emit for Segment and Cluster. */
  private def elU(id: Long, payload: Array[Byte]): Array[Byte] =
    idBytes(id) ++ Array(0xff.toByte) ++ payload

  /** Prefix `payload` with its RFC 8794 CRC-32 element (id 0xBF,
    * little-endian IEEE CRC over the rest of the master's data). */
  private def crcPrefixed(payload: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32()
    c.update(payload)
    el(0xBFL, le32b(c.getValue.toInt)) ++ payload
  }

  /** Write a vint of FORCED byte length `n` (the EBML-lacing signed
    * deltas pick their length from the delta's magnitude). */
  private def vint0(o: java.io.ByteArrayOutputStream, v: Long,
      n: Int): Unit = {
    var x = v | (1L << (7 * n))
    val out = new Array[Byte](n)
    var i = n - 1
    while (i >= 0) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
    o.write(out, 0, n)
  }

  private def uintEl(id: Long, v: Long): Array[Byte] = {
    var n = 1
    while (n < 8 && v >= (1L << (8 * n))) n += 1
    el(id, Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte))
  }

  /** Encode a planted WebM clip: EBML header (DocType webm), Segment
    * with Info + one V_VP8 video TrackEntry + Clusters of
    * `framesPerCluster` blocks. `useBlockGroups` frames every block
    * as BlockGroup>Block instead of SimpleBlock; `lacing` (0 none /
    * 1 Xiph / 2 fixed / 3 EBML) packs each cluster's frames into ONE
    * laced block — three re-mux knobs for byte-distinct twins whose
    * frame payloads (and so the fingerprint) stay fixed. `frameLen`
    * grows by `lenStep` per frame (spec-only: nonzero deltas for the
    * EBML lacing path and multi-byte Xiph sizes; planted families
    * keep the oracle's fixed 180). `audioTrack` emits an audio-only
    * A_OPUS TrackEntry instead (the .weba/.mka shape, disjoint
    * "weba"/"x" payload key space); `audioSibling` interleaves a
    * second A_OPUS track's blocks beside the video — the re-muxed-
    * with-audio duplicate the track filter must ignore.
    * `unknownSizeSegment`/`unknownSizeClusters` emit the Segment /
    * every Cluster with the all-ones unknown-size vint — the
    * browser-MediaRecorder live-capture shape, byte-distinct framing
    * over identical frame payloads. `crc32Elements` prefixes the
    * Tracks element and every Cluster (and BlockGroup) with its
    * RFC 8794 CRC-32 element — checksummed framing the decode must
    * VERIFY and exclude from content. `tagsElement` appends a
    * Matroska Tags element (Tag > SimpleTag > TagName/TagString)
    * after the clusters — the RE-TAGGED duplicate shape (mkvpropedit
    * adds tags in place): metadata the fingerprint must ignore. */
  def encodeWebm(scene: Long, nFrames: Int, w: Int = 64, h: Int = 64,
      framesPerCluster: Int = 2,
      useBlockGroups: Boolean = false, lacing: Int = 0,
      frameLen: Int = 180, lenStep: Int = 0,
      audioTrack: Boolean = false,
      audioSibling: Boolean = false,
      unknownSizeSegment: Boolean = false,
      unknownSizeClusters: Boolean = false,
      crc32Elements: Boolean = false,
      tagsElement: Boolean = false): Array[Byte] = {
    require(nFrames >= 1 && framesPerCluster >= 1)
    require(lacing >= 0 && lacing <= 3)
    require(lacing != 2 || lenStep == 0,
      "fixed-size lacing needs equal frames")
    require(!(audioTrack && audioSibling))
    val ebml = el(0x1A45DFA3L,
      uintEl(0x4286L, 1) ++ uintEl(0x42F7L, 1) ++
      uintEl(0x42F2L, 4) ++ uintEl(0x42F3L, 8) ++
      el(0x4282L, "webm".getBytes("US-ASCII")) ++
      uintEl(0x4287L, 2) ++ uintEl(0x4285L, 2))
    val info = el(0x1549A966L, uintEl(0x2AD7B1L, 1000000L))
    val trackEntry =
      if (audioTrack) el(0xAEL,
        uintEl(0xD7L, 1) ++ uintEl(0x73C5L, 0xC0FFEEL + scene) ++
        uintEl(0x83L, 2) ++
        el(0x86L, "A_OPUS".getBytes("US-ASCII")) ++
        el(0xE1L, uintEl(0x9FL, 2)))
      else el(0xAEL,
        uintEl(0xD7L, 1) ++ uintEl(0x73C5L, 0xC0FFEEL + scene) ++
        uintEl(0x83L, 1) ++
        el(0x86L, "V_VP8".getBytes("US-ASCII")) ++
        el(0xE0L, uintEl(0xB0L, w) ++ uintEl(0xBAL, h)))
    // the interleaved audio sibling (track 2, A_OPUS): real WebM
    // carries audio beside video — its blocks must be FILTERED, not
    // digested, so a video re-muxed with an audio track collapses
    // onto its video-only primary
    val sibEntry =
      if (!audioSibling) Array.emptyByteArray
      else el(0xAEL,
        uintEl(0xD7L, 2) ++ uintEl(0x73C5L, 0xBEEFL + scene) ++
        uintEl(0x83L, 2) ++
        el(0x86L, "A_OPUS".getBytes("US-ASCII")) ++
        el(0xE1L, uintEl(0x9FL, 2)))
    val tracksEl = el(0x1654AE6BL,
      if (crc32Elements) crcPrefixed(trackEntry ++ sibEntry)
      else trackEntry ++ sibEntry)

    def payload(k: Int): Array[Byte] =
      framePayload(scene, k, frameLen + lenStep * k,
        if (audioTrack) "weba" else "webm",
        if (audioTrack) "x" else "w")

    def wrap(body: Array[Byte]): Array[Byte] =
      if (useBlockGroups) el(0xA0L, {
        val g = el(0xA1L, body)
        if (crc32Elements) crcPrefixed(g) else g
      })
      else el(0xA3L, body)

    val keyBit = (if (useBlockGroups) 0x00 else 0x80).toByte

    def blockEl(k: Int): Array[Byte] =
      wrap(Array[Byte](0x81.toByte, 0, 0, keyBit) ++ payload(k))

    /** One laced block carrying all of `ks`' frames. */
    def lacedBlockEl(ks: Seq[Int]): Array[Byte] = {
      val ps = ks.map(payload)
      val flags = (keyBit | (lacing << 1)).toByte
      val head = new java.io.ByteArrayOutputStream()
      head.write(0x81); head.write(0); head.write(0); head.write(flags)
      head.write(ps.length - 1)
      lacing match {
        case 1 =>                           // Xiph 255-run sizes
          ps.init.foreach { p =>
            var rem = p.length
            while (rem >= 255) { head.write(255); rem -= 255 }
            head.write(rem)
          }
        case 2 => ()                        // fixed: no size table
        case _ if ps.length == 1 => ()      // no size table for one frame
        case _ =>                           // EBML: vint + signed deltas
          def vint(v: Long): Unit = {
            var n = 1
            while (n < 8 && v >= (1L << (7 * n)) - 1) n += 1
            var x = v | (1L << (7 * n))
            var i = n - 1
            val out = new Array[Byte](n)
            while (i >= 0) { out(i) = (x & 0xff).toByte; x >>= 8; i -= 1 }
            head.write(out)
          }
          vint(ps.head.length.toLong)
          ps.init.zip(ps.tail.init).foreach { case (a, b2) =>
            // delta of frame i (1..n-2) vs its predecessor, biased
            val delta = (b2.length - a.length).toLong
            var n = 1
            while (n < 8 &&
                (delta > (1L << (7 * n - 1)) - 1 ||
                 delta < -((1L << (7 * n - 1)) - 1))) n += 1
            vint0(head, delta + ((1L << (7 * n - 1)) - 1), n)
          }
      }
      ps.foreach(head.write)
      wrap(head.toByteArray)
    }

    def sibBlockEl(k: Int): Array[Byte] =
      if (!audioSibling) Array.emptyByteArray
      else el(0xA3L, Array[Byte](0x82.toByte, 0, 0, 0x80.toByte) ++
        s"sib:$scene:$k:opus-bytes".getBytes("US-ASCII"))

    val clusters = (0 until nFrames).grouped(framesPerCluster).map { ks =>
      val body =
        if (lacing == 0)
          ks.toArray.flatMap(k => blockEl(k) ++ sibBlockEl(k))
        else lacedBlockEl(ks) ++ sibBlockEl(ks.head)
      val payload0 = uintEl(0xE7L, ks.head.toLong * 40L) ++ body
      val payload =
        if (crc32Elements) crcPrefixed(payload0) else payload0
      if (unknownSizeClusters) elU(0x1F43B675L, payload)
      else el(0x1F43B675L, payload)
    }.toArray.flatten
    // the re-tag shape: a Tags element (Tag > SimpleTag > TagName +
    // TagString) after the clusters — top-level metadata the walk
    // must step over without touching the digest
    val tags =
      if (!tagsElement) Array.emptyByteArray
      else el(0x1254C367L, el(0x7373L, el(0x67C8L,
        el(0x45A3L, "TITLE".getBytes("US-ASCII")) ++
        el(0x4487L, s"retag-of-$scene".getBytes("US-ASCII")))))
    val segPayload = info ++ tracksEl ++ clusters ++ tags
    val segment =
      if (unknownSizeSegment) elU(0x18538067L, segPayload)
      else el(0x18538067L, segPayload)
    ebml ++ segment
  }
}
