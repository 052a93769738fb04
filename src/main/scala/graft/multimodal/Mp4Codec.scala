package graft.multimodal

/** MP4 (ISO-BMFF) sample-table video decode for the frame tier —
  * closing the true-video-container seam: where [[Multimodal
  * .AvHeaderDecoder]] stops at `moov/mvhd` metadata, this walks the
  * full `moov → trak → mdia → (hdlr, minf → stbl)` box tree of the
  * video track and reconstructs per-sample payload ranges from the
  * sample tables — `stsz` (sizes), `stco` (chunk offsets), `stsc`
  * (sample-to-chunk runs) — the ISO/IEC 14496-12 layout every MP4
  * reader implements. Samples are intra-coded JPEG images (the
  * Motion-JPEG-in-MP4 shape, sample entry `jpeg`/`mjpa`), so each
  * extracted sample decodes through the REAL [[JpegCodec]]/
  * [[JpegProgressive]] tier and the clip feeds the existing frame
  * pipeline (sampling, re-edit pairing, streamed admission) unchanged.
  *
  * Exactness: intra-only + block-constant scene frames ⇒ every sample
  * decodes bit-exactly (the [[JpegCodec]] DC-only property), so MP4
  * clips join the md5-arithmetic frame-evolution oracles next to their
  * GIF twins.
  *
  * Hostile-input discipline matches the codec tier: decode never
  * throws — truncated boxes, missing tables, out-of-range sample
  * extents, inconsistent chunk runs, or any undecodable sample
  * return None (the clip drops whole at the gate, like a truncated
  * GIF). 64-bit forms parse on both tiers: `largesize` box headers
  * and `co64` chunk-offset tables (the >4 GiB shapes — offsets must
  * still land inside the buffer), and the AVC digest tier also walks
  * FRAGMENTED files (`moof`/`traf`/`trun` — see [[fragmentExtents]]).
  *
  * `avc1` (H.264) tracks ride the separate documented DIGEST tier
  * ([[decodeAvcDigest]]): container metadata + per-sample content
  * digests for exact clip dedup, with no pixel decode attempted —
  * see the contract scaladoc there.
  */
object Mp4Codec {
  import PixelCodec.Gray
  import Bytes.{be16, be16b, be32, be32b, be64, boxAt, fourcc, u8}

  /** First child box `target` in [from, until): Some(payload offset,
    * payload end). */
  private[multimodal] def child(b: Array[Byte], from: Int, until: Int,
      target: String): Option[(Int, Int)] = {
    var p = from
    while (p + 8 <= until) {
      val (ps, pe) = boxAt(b, p, until).getOrElse(return None)
      if (fourcc(b, p + 4) == target) return Some((ps, pe))
      p = pe
    }
    None
  }

  /** All child boxes named `target` as (boxStart, payloadStart,
    * payloadEnd) — boxStart feeds the fragment walk's
    * default-base-is-moof anchoring. */
  private def childBoxes(b: Array[Byte], from: Int, until: Int,
      target: String): Seq[(Int, Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int, Int)]
    var p = from
    while (p + 8 <= until) {
      val (ps, pe) = boxAt(b, p, until) match {
        case Some(x) => x
        case None => return out.result()
      }
      if (fourcc(b, p + 4) == target) out += ((p, ps, pe))
      p = pe
    }
    out.result()
  }

  /** All child boxes named `target` (for the trak scan). */
  private[multimodal] def children(b: Array[Byte], from: Int, until: Int,
      target: String): Seq[(Int, Int)] =
    childBoxes(b, from, until, target).map { case (_, ps, pe) =>
      (ps, pe)
    }

  private val MaxFrames = 256

  /** Decode an MJPEG-in-MP4 clip to its frames: locate the `vide`
    * track, require a `jpeg`/`mjpa` sample entry, walk the sample
    * tables to per-sample byte ranges, and JPEG-decode every sample.
    * None if the container is malformed, the track isn't MJPEG, any
    * sample extent leaves the buffer, or any sample fails to decode. */
  def decodeMjpegFrames(b: Array[Byte]): Option[Vector[Gray]] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Vector[Gray]] = {
    if (b.length < 16) return None
    val (moovS, moovE) = child(b, 0, b.length, "moov").getOrElse(return None)
    // the video track: hdlr handler_type 'vide' (hdlr payload:
    // version/flags u32, pre_defined u32, handler_type u32)
    val videoTrak = children(b, moovS, moovE, "trak").find { case (ts, te) =>
      (for {
        (ms, me) <- child(b, ts, te, "mdia")
        (hs, he) <- child(b, ms, me, "hdlr")
        if hs + 12 <= he
      } yield fourcc(b, hs + 8) == "vide").getOrElse(false)
    }.getOrElse(return None)
    val (ts, te) = videoTrak
    val (ms, me) = child(b, ts, te, "mdia").getOrElse(return None)
    val (mfs, mfe) = child(b, ms, me, "minf").getOrElse(return None)
    val (ss, se) = child(b, mfs, mfe, "stbl").getOrElse(return None)

    // stsd: first sample entry's format must be an intra-JPEG coding
    val (sdS, sdE) = child(b, ss, se, "stsd").getOrElse(return None)
    if (sdS + 16 > sdE) return None
    if (be32(b, sdS + 4) < 1) return None // entry_count
    val fmt = fourcc(b, sdS + 12)
    if (fmt != "jpeg" && fmt != "mjpa") return None

    val extents = sampleExtents(b, ss, se).getOrElse(return None)
    val frames = Vector.newBuilder[Gray]
    extents.foreach { case (off, sz) =>
      val payload = java.util.Arrays.copyOfRange(b, off, off + sz)
      frames += JpegCodec.decodeJpeg(payload).getOrElse(return None)
    }
    Some(frames.result())
  }

  /** Per-sample (offset, size) extents from the `stbl` sample tables
    * — stsz sizes, stco/co64 chunk offsets, stsc sample-to-chunk runs
    * — shared by the MJPEG pixel tier and the AVC digest tier. None
    * on any inconsistency (missing table, out-of-range extent,
    * non-monotone runs). */
  private def sampleExtents(b: Array[Byte], ss: Int, se: Int,
      maxSamples: Int = MaxFrames): Option[Vector[(Int, Int)]] = {
    // stsz: version/flags, sample_size (0 = per-sample table),
    // sample_count, then sizes
    val (szS, szE) = child(b, ss, se, "stsz").getOrElse(return None)
    if (szS + 12 > szE) return None
    val uniform = be32(b, szS + 4)
    val nSamples = be32(b, szS + 8)
    if (nSamples <= 0 || nSamples > maxSamples) return None
    val n = nSamples.toInt
    val sizes = new Array[Long](n)
    if (uniform != 0) java.util.Arrays.fill(sizes, uniform)
    else {
      if (szS + 12 + 4L * n > szE) return None
      var i = 0
      while (i < n) { sizes(i) = be32(b, szS + 12 + 4 * i); i += 1 }
    }
    if (sizes.exists(s => s <= 0 || s > (1 << 26))) return None

    // chunk offsets: stco (32-bit) or co64 (64-bit — the >4 GiB form;
    // offsets must still land inside this buffer)
    val chunkOff: Array[Long] = child(b, ss, se, "stco") match {
      case Some((coS, coE)) =>
        if (coS + 8 > coE) return None
        val nChunks = be32(b, coS + 4)
        if (nChunks <= 0 || nChunks > maxSamples ||
            coS + 8 + 4L * nChunks > coE) return None
        Array.tabulate(nChunks.toInt)(i => be32(b, coS + 8 + 4 * i))
      case None =>
        val (coS, coE) = child(b, ss, se, "co64").getOrElse(return None)
        if (coS + 8 > coE) return None
        val nChunks = be32(b, coS + 4)
        if (nChunks <= 0 || nChunks > maxSamples ||
            coS + 8 + 8L * nChunks > coE) return None
        Array.tabulate(nChunks.toInt)(i => be64(b, coS + 8 + 8 * i))
    }

    // stsc: (first_chunk, samples_per_chunk, desc_index) runs
    val (scS, scE) = child(b, ss, se, "stsc").getOrElse(return None)
    if (scS + 8 > scE) return None
    val nRuns = be32(b, scS + 4)
    if (nRuns <= 0 || nRuns > maxSamples ||
        scS + 8 + 12L * nRuns > scE) return None
    val runs = Array.tabulate(nRuns.toInt) { i =>
      (be32(b, scS + 8 + 12 * i), be32(b, scS + 8 + 12 * i + 4))
    }
    if (runs.head._1 != 1) return None
    var i = 0
    while (i < runs.length - 1) {
      if (runs(i + 1)._1 <= runs(i)._1) return None
      i += 1
    }

    // walk chunks, laying samples at cumulative offsets
    val out = Vector.newBuilder[(Int, Int)]
    var sample = 0
    var run = 0
    var chunk = 0
    while (sample < n && chunk < chunkOff.length) {
      while (run + 1 < runs.length && runs(run + 1)._1 <= chunk + 1)
        run += 1
      val spc = runs(run)._2
      if (spc <= 0 || spc > maxSamples) return None
      var off = chunkOff(chunk)
      var j = 0L
      while (j < spc && sample < n) {
        val sz = sizes(sample)
        if (off < 0 || off + sz > b.length) return None
        out += ((off.toInt, sz.toInt))
        off += sz
        sample += 1
        j += 1
      }
      chunk += 1
    }
    if (sample != n) return None
    Some(out.result())
  }

  /** The flat-vs-fragmented dispatch shared by the AVC and AAC digest
    * walks: an stsz with sample_count 0 routes to the fragment walk,
    * a populated one to the stbl table walk. `maxSamples` is the
    * track-kind cap (256 video frames; 65536 audio access units —
    * matching the ADTS walk, so the cross-container collapse holds at
    * real stream lengths). */
  private[multimodal] def trackExtents(b: Array[Byte], ss: Int, se: Int, ts: Int,
      te: Int, maxSamples: Int): Option[Vector[(Int, Int)]] = {
    val (szS, szE) = child(b, ss, se, "stsz").getOrElse(return None)
    if (szS + 12 > szE) return None
    if (be32(b, szS + 8) == 0)
      trackId(b, ts, te).flatMap(tid =>
        fragmentExtents(b, tid, maxSamples))
    else sampleExtents(b, ss, se, maxSamples)
  }

  /** The `moov/mvex/trex` default_sample_size for track `tid`
    * (0 = none): the DASH init-segment home for sample defaults.
    * trex payload (after the fullBox version/flags): track_ID,
    * default_sample_description_index, default_sample_duration,
    * default_sample_size, default_sample_flags — 4 bytes each. */
  private def trexDefaultSize(b: Array[Byte], tid: Long): Long =
    (for {
      (ms, me) <- child(b, 0, b.length, "moov")
      (xs, xe) <- child(b, ms, me, "mvex")
    } yield children(b, xs, xe, "trex").collectFirst {
      case (ts, te) if te - ts >= 24 && be32(b, ts + 4) == tid =>
        be32(b, ts + 16)
    }.getOrElse(0L)).getOrElse(0L)

  /** The trak's track_ID from its tkhd (version 0 or 1) — the key the
    * fragment walk matches traf headers against. */
  private def trackId(b: Array[Byte], ts: Int, te: Int): Option[Long] = {
    val (hs, he) = child(b, ts, te, "tkhd").getOrElse(return None)
    u8(b, hs) match {
      case 0 => if (hs + 16 > he) None else Some(be32(b, hs + 12))
      case 1 => if (hs + 24 > he) None else Some(be32(b, hs + 20))
      case _ => None
    }
  }

  /** Per-sample (offset, size) extents of a FRAGMENTED track: walk
    * every top-level `moof` in file order, its `traf`s for the given
    * track, and their `trun` sample runs (ISO 14496-12 §8.8). The
    * supported grammar is the shape real DASH/streaming muxers emit:
    * tfhd anchored by an explicit base-data-offset or the
    * default-base-is-moof flag (0x20000), sample sizes from the trun's
    * per-sample table or the tfhd default, the first trun carrying an
    * explicit data offset and later truns continuing contiguously.
    * Anything outside that grammar — a tfhd with neither anchor, a
    * leading trun without a data offset, a sample extent past the
    * buffer (the truncated-fragment case) — drops the whole clip:
    * None, never a partial sample list. A file cut exactly at a
    * fragment boundary is structurally complete and parses with that
    * many fragments (the MP3 frame-boundary / WARC record-boundary
    * precedent). Sample sizes resolve trun per-sample table → tfhd
    * default-sample-size → the `mvex/trex` default (the DASH
    * init-segment layout, ISO 14496-12 §8.8.3: uniform-size streams
    * routinely put default_sample_size in trex and omit it from both
    * tfhd and trun); sizes present NOWHERE still drop the clip. */
  private def fragmentExtents(b: Array[Byte], tid: Long,
      maxSamples: Int = MaxFrames): Option[Vector[(Int, Int)]] = {
    val trexSize = trexDefaultSize(b, tid)
    val out = Vector.newBuilder[(Int, Int)]
    var total = 0
    // the top level must tile EXACTLY into well-formed boxes: a file
    // cut inside a box header (or carrying trailing garbage) fails
    // whole, so only exact fragment-boundary cuts parse as the
    // legal-shorter-stream case
    val moofsB = Seq.newBuilder[(Int, Int, Int)]
    var tp = 0
    while (tp < b.length) {
      val (ps, pe) = boxAt(b, tp, b.length).getOrElse(return None)
      if (fourcc(b, tp + 4) == "moof") moofsB += ((tp, ps, pe))
      tp = pe
    }
    val moofs = moofsB.result()
    if (moofs.isEmpty) return None
    moofs.foreach { case (moofStart, ms, me) =>
      children(b, ms, me, "traf").foreach { case (fs, fe) =>
        val (hS, hE) = child(b, fs, fe, "tfhd").getOrElse(return None)
        if (hS + 8 > hE) return None
        val tfFlags = (be32(b, hS) & 0xffffff).toInt
        if (be32(b, hS + 4) == tid) {
          var q = hS + 8
          var base = -1L
          if ((tfFlags & 0x1) != 0) {      // base-data-offset-present
            if (q + 8 > hE) return None
            base = be64(b, q); q += 8
          }
          if ((tfFlags & 0x2) != 0) q += 4 // sample-description-index
          if ((tfFlags & 0x8) != 0) q += 4 // default-sample-duration
          var defSize = -1L
          if ((tfFlags & 0x10) != 0) {     // default-sample-size
            if (q + 4 > hE) return None
            defSize = be32(b, q); q += 4
          }
          if (q > hE) return None
          // tfhd overrides trex; trex fills the gap (§8.8.3's
          // precedence order)
          if (defSize < 0 && trexSize > 0) defSize = trexSize
          if (base < 0) {
            if ((tfFlags & 0x20000) == 0) return None // no anchor
            base = moofStart                // default-base-is-moof
          }
          var off = -1L                     // running offset, per traf
          children(b, fs, fe, "trun").foreach { case (tS, tE) =>
            if (tS + 8 > tE) return None
            val trFlags = (be32(b, tS) & 0xffffff).toInt
            val count = be32(b, tS + 4)
            if (count <= 0 || count > maxSamples) return None
            var r = tS + 8
            if ((trFlags & 0x1) != 0) {     // data-offset-present
              if (r + 4 > tE) return None
              off = base + be32(b, r).toInt // signed 32-bit offset
              r += 4
            } else if (off < 0) return None // leading trun unanchored
            if ((trFlags & 0x4) != 0) r += 4 // first-sample-flags
            val perSample =
              (if ((trFlags & 0x100) != 0) 4 else 0) + // duration
              (if ((trFlags & 0x200) != 0) 4 else 0) + // size
              (if ((trFlags & 0x400) != 0) 4 else 0) + // flags
              (if ((trFlags & 0x800) != 0) 4 else 0)   // cts offset
            if (r + count * perSample.toLong > tE) return None
            var i = 0L
            while (i < count) {
              val sz =
                if ((trFlags & 0x200) != 0)
                  be32(b, (r + i * perSample +
                    (if ((trFlags & 0x100) != 0) 4 else 0)).toInt)
                else defSize
              if (sz <= 0 || sz > (1 << 26)) return None
              if (off < 0 || off + sz > b.length) return None
              out += ((off.toInt, sz.toInt))
              off += sz
              total += 1
              if (total > maxSamples) return None
              i += 1
            }
          }
        }
      }
    }
    val v = out.result()
    if (v.isEmpty) None else Some(v)
  }

  // ---- AVC (H.264) honest tier: metadata + sample content digests ----

  /** One AVC video track's digest view: coded dims, the avcC
    * profile/level, and a per-sample content digest. */
  final case class AvcClip(width: Int, height: Int, profile: Int,
      level: Int, sampleDigests: Vector[String]) {
    /** The clip fingerprint: md5 over the ordered sample digests —
      * byte-identical content ⇒ identical fingerprint, regardless of
      * container layout. */
    def fingerprint: String = md5Hex(
      sampleDigests.mkString("").getBytes("US-ASCII"))
  }

  def md5Hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(b)
    d.map(x => f"${x & 0xff}%02x").mkString
  }

  /** The documented H.264/AVC tier CONTRACT: `avc1` tracks are NOT
    * pixel-decoded — no entropy or transform decode is attempted.
    * The tier surfaces container metadata (coded width/height, the
    * AVCDecoderConfigurationRecord's profile and level) plus one
    * CONTENT DIGEST per sample: md5 over the sample's NAL unit bytes
    * with the length-prefix framing stripped and the 1-byte NAL
    * header excluded — a value invariant under re-muxing (chunk
    * layout, interleave, and NAL length-prefix width can all change
    * without touching it), which is exactly what EXACT clip dedup
    * needs at 100 TB: identical encodes collapse across containers
    * without a transform decoder, while pixel-space NEAR-dup pairing
    * remains the decodable tiers' job (MJPEG/GIF/WebP — and VP8 via
    * [[Vp8Codec]]). Structural honesty is kept: the avcC record must
    * parse (version 1, ≥1 SPS of NAL type 7 and ≥1 PPS of type 8,
    * all within bounds, a legal length-prefix size), and every sample
    * must tile EXACTLY into length-prefixed NAL units with a zero
    * forbidden bit and a valid type — truncation or corruption drops
    * the whole clip at the gate, never a partial digest. */
  def decodeAvcDigest(b: Array[Byte]): Option[AvcClip] =
    try decodeAvc0(b)
    catch { case _: RuntimeException => None }

  private def decodeAvc0(b: Array[Byte]): Option[AvcClip] = {
    if (b.length < 16) return None
    val (moovS, moovE) = child(b, 0, b.length, "moov").getOrElse(return None)
    val videoTrak = children(b, moovS, moovE, "trak").find { case (ts, te) =>
      (for {
        (ms, me) <- child(b, ts, te, "mdia")
        (hs, he) <- child(b, ms, me, "hdlr")
        if hs + 12 <= he
      } yield fourcc(b, hs + 8) == "vide").getOrElse(false)
    }.getOrElse(return None)
    val (ts, te) = videoTrak
    val (ms, me) = child(b, ts, te, "mdia").getOrElse(return None)
    val (mfs, mfe) = child(b, ms, me, "minf").getOrElse(return None)
    val (ss, se) = child(b, mfs, mfe, "stbl").getOrElse(return None)

    val (sdS, sdE) = child(b, ss, se, "stsd").getOrElse(return None)
    if (sdS + 16 > sdE) return None
    if (be32(b, sdS + 4) < 1) return None
    if (fourcc(b, sdS + 12) != "avc1") return None
    val entryEnd = math.min(sdE.toLong, sdS + 8 + be32(b, sdS + 8)).toInt
    val body = sdS + 16                    // VisualSampleEntry body
    if (body + 78 > entryEnd) return None
    val width = be16(b, body + 24)
    val height = be16(b, body + 26)
    if (width <= 0 || height <= 0) return None

    // avcC: AVCDecoderConfigurationRecord (ISO 14496-15 §5.2.4.1)
    val (avS, avE) = child(b, body + 78, entryEnd, "avcC")
      .getOrElse(return None)
    if (avS + 7 > avE) return None
    if (u8(b, avS) != 1) return None       // configurationVersion
    val profile = u8(b, avS + 1)
    val level = u8(b, avS + 3)
    val lengthSize = (u8(b, avS + 4) & 3) + 1
    if (lengthSize == 3) return None       // reserved in practice
    var p = avS + 5
    val nSps = u8(b, p) & 0x1f
    if (nSps < 1) return None
    p += 1
    var i = 0
    while (i < nSps) {
      if (p + 2 > avE) return None
      val len = be16(b, p)
      p += 2
      if (len < 1 || p + len > avE) return None
      if ((u8(b, p) & 0x80) != 0 || (u8(b, p) & 0x1f) != 7) return None
      p += len
      i += 1
    }
    if (p + 1 > avE) return None
    val nPps = u8(b, p)
    if (nPps < 1) return None
    p += 1
    i = 0
    while (i < nPps) {
      if (p + 2 > avE) return None
      val len = be16(b, p)
      p += 2
      if (len < 1 || p + len > avE) return None
      if ((u8(b, p) & 0x80) != 0 || (u8(b, p) & 0x1f) != 8) return None
      p += len
      i += 1
    }

    // flat layout (samples in stbl) vs fragmented (DASH-era: an empty
    // stbl sample-size table, samples carried by top-level moof/traf/
    // trun runs) — the shared dispatch
    val extents = trackExtents(b, ss, se, ts, te, MaxFrames)
      .getOrElse(return None)
    val digests = Vector.newBuilder[String]
    extents.foreach { case (off, sz) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      var q = off
      val end = off + sz
      var nals = 0
      while (q < end) {
        if (q + lengthSize > end) return None
        var len = 0L
        var k = 0
        while (k < lengthSize) { len = (len << 8) | u8(b, q + k); k += 1 }
        q += lengthSize
        if (len < 1 || q + len > end) return None
        val hdr = u8(b, q)
        if ((hdr & 0x80) != 0) return None // forbidden_zero_bit
        val typ = hdr & 0x1f
        if (typ < 1 || typ > 23) return None
        md.update(b, q + 1, len.toInt - 1) // payload, header excluded
        q += len.toInt
        nals += 1
      }
      if (nals == 0) return None
      digests += md.digest().map(x => f"${x & 0xff}%02x").mkString
    }
    Some(AvcClip(width, height, profile, level, digests.result()))
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  private[multimodal] def box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32b(8 + payload.length) ++ typ.getBytes("US-ASCII") ++ payload

  private[multimodal] def fullBox(typ: String, payload: Array[Byte]): Array[Byte] =
    box(typ, be32b(0) ++ payload)

  /** Encode frames as an MJPEG MP4: `ftyp` + `mdat` of per-frame
    * baseline JPEGs + a complete `moov` with the real sample tables.
    * Samples pack into chunks of `chunkSize` frames (default 2), so
    * the decoder's `stsc` run walk and intra-chunk cumulative offsets
    * are exercised by every fixture, not just the trivial one-chunk
    * layout. `color` encodes each sample as a 3-component JPEG. */
  def encodeMjpegMp4(frames: Seq[Gray], chunkSize: Int = 2,
      color: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty && frames.length <= MaxFrames)
    val samples = frames.map(g => JpegCodec.encodeJpeg(g, color = color))
      .toArray
    val w = frames.head.width; val h = frames.head.height
    assembleMp4(samples, visualSampleEntry("jpeg", w, h), w, h,
      chunkSize)
  }

  /** A VisualSampleEntry box (ISO 14496-12 §12.1.3) with optional
    * trailing extension boxes (the avc1 entry's avcC). */
  private def visualSampleEntry(fmt: String, w: Int, h: Int,
      extensions: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val body =
      Array.fill[Byte](6)(0) ++ be16b(1) ++    // reserved + data_ref
      be16b(0) ++ be16b(0) ++ be32b(0) ++ be32b(0) ++ be32b(0) ++
      be16b(w) ++ be16b(h) ++
      be32b(0x00480000) ++ be32b(0x00480000) ++ // 72 dpi
      be32b(0) ++ be16b(1) ++                   // frame_count 1
      Array.fill[Byte](32)(0) ++                // compressorname
      be16b(24) ++ be16b(0xffff)                // depth, pre_defined -1
    box(fmt, body ++ extensions)
  }

  /** The deterministic NAL payloads (header byte excluded) of sample
    * `k` of the planted AVC scene — frame 0 carries an SEI + the IDR
    * (the multi-NAL tiling case), later frames one IDR; the payload
    * text is pure ascii md5 arithmetic so the DuckDB oracle recomputes
    * every digest verbatim. */
  private[multimodal] def avcSamplePayloads(scene: Long,
      k: Int): Seq[Array[Byte]] = {
    val idr = (s"avc:$scene:$k:" +
      md5Hex(s"n${scene}_$k".getBytes("UTF-8"))).getBytes("US-ASCII")
    if (k == 0) Seq(s"sei:$scene".getBytes("US-ASCII"), idr)
    else Seq(idr)
  }

  /** The length-prefixed NAL sample bytes + the avc1 sample entry of
    * the planted AVC scene — shared by the flat and fragmented
    * encoders so a re-fragmented copy carries byte-identical sample
    * content. */
  private def avcSamplesAndEntry(scene: Long, nFrames: Int, w: Int,
      h: Int, lengthSize: Int): (Array[Array[Byte]], Array[Byte]) = {
    require(nFrames >= 1 && nFrames <= MaxFrames)
    require(lengthSize == 1 || lengthSize == 2 || lengthSize == 4)
    def lenPrefix(n: Int): Array[Byte] = lengthSize match {
      case 1 => require(n < 256); Array(n.toByte)
      case 2 => be16b(n)
      case _ => be32b(n)
    }
    val samples = Array.tabulate(nFrames) { k =>
      avcSamplePayloads(scene, k).toArray.flatMap { payload =>
        val nalType: Byte = if (payload.startsWith(
          "sei".getBytes("US-ASCII"))) 0x06 else 0x65
        lenPrefix(1 + payload.length) ++ (nalType +: payload)
      }
    }
    val sps = Array[Byte](0x67) ++ "sps-baseline-66".getBytes("US-ASCII")
    val pps = Array[Byte](0x68) ++ "pps-0".getBytes("US-ASCII")
    val avcC = box("avcC",
      Array[Byte](1, 66, 0xc0.toByte, 30,
        (0xfc | (lengthSize - 1)).toByte,
        (0xe0 | 1).toByte) ++
        be16b(sps.length) ++ sps ++
        Array[Byte](1) ++ be16b(pps.length) ++ pps)
    (samples, visualSampleEntry("avc1", w, h, avcC))
  }

  /** Encode a planted AVC clip: `avc1` sample entry with a structurally
    * complete avcC record (baseline profile 66, level 30, 1 SPS + 1
    * PPS), samples as length-prefixed NAL units over the
    * [[avcSamplePayloads]] content. `lengthSize` (1/2/4), `chunkSize`,
    * and `useCo64` (64-bit chunk offsets) vary the FRAMING without
    * touching the content — the digest-tier invariance a re-muxed
    * copy must exhibit. */
  def encodeAvcMp4(scene: Long, nFrames: Int, w: Int, h: Int,
      chunkSize: Int = 2, lengthSize: Int = 4,
      useCo64: Boolean = false): Array[Byte] = {
    val (samples, entry) =
      avcSamplesAndEntry(scene, nFrames, w, h, lengthSize)
    assembleMp4(samples, entry, w, h, chunkSize, useCo64)
  }

  /** Encode the planted AVC clip as a FRAGMENTED MP4 (the DASH /
    * streaming-era duplicate shape): `ftyp`, a `moov` whose stbl
    * tables are structurally present but EMPTY (stsz sample_count 0)
    * plus an `mvex`/`trex`, then one `moof`+`mdat` pair per
    * `samplesPerFrag` samples — tfhd anchored default-base-is-moof,
    * trun with explicit data offset and per-sample sizes. The sample
    * bytes are byte-identical to [[encodeAvcMp4]]'s, so the clip
    * fingerprint must not move. `largesizeMdat` emits every mdat with
    * the 64-bit `largesize` header form — the top-level walk must
    * step over it. `trexSizeDefaults` emits the DASH init-segment
    * layout: trex carries default_sample_size (the uniform non-first
    * sample length) and every all-uniform trun OMITS its per-sample
    * size table — the walk must resolve those sizes from trex.
    * `splitTruns` splits each multi-sample fragment into TWO truns —
    * the first anchored by an explicit data offset, the second
    * carrying NO offset and continuing contiguously (ISO 14496-12
    * permits it; real muxers emit multi-trun trafs around
    * sample-flag changes) — the walk's running-offset continuation
    * path. */
  def encodeAvcFragmentedMp4(scene: Long, nFrames: Int, w: Int, h: Int,
      samplesPerFrag: Int = 2, lengthSize: Int = 4,
      largesizeMdat: Boolean = false,
      trexSizeDefaults: Boolean = false,
      splitTruns: Boolean = false): Array[Byte] = {
    require(samplesPerFrag >= 1)
    val (samples, entry) =
      avcSamplesAndEntry(scene, nFrames, w, h, lengthSize)
    val n = samples.length
    val timescale = 600
    val delta = 40
    val dur = n * delta
    // samples 1.. share one length (single-digit k, IDR-only); sample
    // 0 is longer (the SEI NAL) — so fragment 0 keeps per-sample
    // sizes while later fragments exercise the trex default for real
    val trexSz = if (trexSizeDefaults) samples(n - 1).length else 0

    // empty-but-present sample tables: the fragmented dispatch key
    val stsd = fullBox("stsd", be32b(1) ++ entry)
    val stts = fullBox("stts", be32b(0))
    val stsc = fullBox("stsc", be32b(0))
    val stsz = fullBox("stsz", be32b(0) ++ be32b(0))
    val stco = fullBox("stco", be32b(0))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val moov = moovAround(stbl, w, h, timescale, dur,
      extra = box("mvex", fullBox("trex",
        be32b(1) ++ be32b(1) ++ be32b(delta) ++ be32b(trexSz) ++
          be32b(0))))
    val ftyp = box("ftyp",
      "iso5".getBytes("US-ASCII") ++ be32b(0x200) ++
        "iso5iso6".getBytes("US-ASCII"))

    val out = new java.io.ByteArrayOutputStream()
    out.write(ftyp); out.write(moov)
    var s = 0
    var seq = 1
    while (s < n) {
      val group = samples.slice(s, math.min(s + samplesPerFrag, n))
      val mfhd = fullBox("mfhd", be32b(seq))
      // tfhd: default-base-is-moof (0x20000), track 1, no optionals
      val tfhd = fullBox("tfhd", be32b(1))
      val tfhdAnchored = {
        val t = tfhd.clone()
        // set the flags bytes (fullBox wrote version/flags = 0)
        t(8 + 1) = 0x02                    // 0x020000
        t
      }
      // trun: data-offset on the LEADING trun; per-sample sizes only
      // when that trun's samples are non-uniform or trex defaults are
      // off (flags 0x000201 vs the trex-backed 0x000001). splitTruns
      // breaks a multi-sample group into a leading anchored trun plus
      // a CONTINUING one with no offset of its own.
      def mkTrun(g: Array[Array[Byte]],
          withOffset: Boolean): Array[Byte] = {
        val uniform = trexSz > 0 && g.forall(_.length == trexSz)
        val payload = be32b(g.length) ++
          (if (withOffset) be32b(0) else Array.emptyByteArray) ++
          (if (uniform) Array.emptyByteArray
           else g.flatMap(x => be32b(x.length)))
        val t = fullBox("trun", payload)
        if (withOffset)
          t(8 + 3) = 0x01                  // flags low byte: data-offset
        if (!uniform)
          t(8 + 2) = 0x02                  // flags mid byte: sample-size
        t
      }
      val truns =
        if (splitTruns && group.length >= 2)
          mkTrun(group.take(1), withOffset = true) ++
            mkTrun(group.drop(1), withOffset = false)
        else mkTrun(group, withOffset = true)
      val traf = box("traf", tfhdAnchored ++ truns)
      val moof = box("moof", mfhd ++ traf)
      // data offset: samples start right after the mdat header, which
      // follows the moof; relative to the moof's first byte
      val mdatHdr = if (largesizeMdat) 16 else 8
      val dataOff = moof.length + mdatHdr
      // trun box layout: size(4) type(4) ver/flags(4) count(4) then
      // the data_offset field at bytes 16..19 of the LEADING trun
      val trunAt = moof.length - truns.length
      System.arraycopy(be32b(dataOff), 0, moof, trunAt + 16, 4)
      out.write(moof)
      val body = group.flatten
      if (largesizeMdat) {
        out.write(be32b(1))
        out.write("mdat".getBytes("US-ASCII"))
        out.write(be32b(0))                // largesize high word
        out.write(be32b(16 + body.length)) // largesize low word
      } else {
        out.write(be32b(8 + body.length))
        out.write("mdat".getBytes("US-ASCII"))
      }
      out.write(body)
      s += group.length
      seq += 1
    }
    out.toByteArray
  }

  /** `ftyp` + `mdat` + a complete `moov` over the given samples and
    * stsd sample entry — the shared container assembly. Samples pack
    * into chunks of `chunkSize`, so the decoder's `stsc` run walk and
    * intra-chunk cumulative offsets are exercised by every fixture;
    * `useCo64` emits the 64-bit chunk-offset table form. */
  private[multimodal] def assembleMp4(samples: Array[Array[Byte]],
      sampleEntry: Array[Byte], w: Int, h: Int,
      chunkSize: Int, useCo64: Boolean = false,
      audio: Boolean = false): Array[Byte] = {
    require(chunkSize >= 1)
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ be32b(0x200) ++
        "isomiso2".getBytes("US-ASCII"))
    val mdatPayload = samples.flatten
    val mdat = box("mdat", mdatPayload)

    val n = samples.length
    val nChunks = (n + chunkSize - 1) / chunkSize
    // chunk offsets inside the final file: ftyp, then mdat header (8)
    val base = ftyp.length + 8
    val chunkOffs = new Array[Int](nChunks)
    var off = base
    var s = 0
    var c = 0
    while (c < nChunks) {
      chunkOffs(c) = off
      var j = 0
      while (j < chunkSize && s < n) { off += samples(s).length; s += 1; j += 1 }
      c += 1
    }

    val timescale = 600
    val delta = 40 // 15 fps
    val dur = n * delta

    val stsd = fullBox("stsd", be32b(1) ++ sampleEntry)
    val stts = fullBox("stts", be32b(1) ++ be32b(n) ++ be32b(delta))
    val stscRuns =
      if (n % chunkSize == 0 || nChunks == 1)
        Seq((1, math.min(chunkSize, n)))
      else Seq((1, chunkSize), (nChunks, n % chunkSize))
    val stsc = fullBox("stsc", be32b(stscRuns.length) ++
      stscRuns.toArray.flatMap { case (fc, spc) =>
        be32b(fc) ++ be32b(spc) ++ be32b(1) })
    val stsz = fullBox("stsz", be32b(0) ++ be32b(n) ++
      samples.flatMap(sm => be32b(sm.length)))
    val stco =
      if (useCo64) fullBox("co64", be32b(nChunks) ++
        chunkOffs.flatMap(o => be32b(0) ++ be32b(o)))
      else fullBox("stco", be32b(nChunks) ++ chunkOffs.flatMap(be32b))
    val stbl = box("stbl", stsd ++ stts ++ stsc ++ stsz ++ stco)
    val moov = moovAround(stbl, w, h, timescale, dur, audio = audio)
    ftyp ++ mdat ++ moov
  }

  /** The moov shell around a ready stbl: mvhd + trak(tkhd track 1 +
    * mdia(mdhd + vide hdlr + minf(vmhd + dinf + stbl))) [+ extra —
    * the fragmented form's mvex]. */
  private def moovAround(stbl: Array[Byte], w: Int, h: Int,
      timescale: Int, dur: Int,
      extra: Array[Byte] = Array.emptyByteArray,
      audio: Boolean = false): Array[Byte] = {
    val vmhd =
      if (audio) fullBox("smhd", be16b(0) ++ be16b(0))
      else box("vmhd", be32b(1) ++ Array.fill[Byte](8)(0))
    val dref = fullBox("dref", be32b(1) ++
      box("url ", be32b(1))) // flags = 1: self-contained data
    val dinf = box("dinf", dref)
    val minf = box("minf", vmhd ++ dinf ++ stbl)
    val hdlr = fullBox("hdlr", be32b(0) ++
      (if (audio) "soun" else "vide").getBytes("US-ASCII") ++
      Array.fill[Byte](12)(0) ++
      "graft ".getBytes("US-ASCII"))
    val mdhd = fullBox("mdhd", be32b(0) ++ be32b(0) ++
      be32b(timescale) ++ be32b(dur) ++ be16b(0x55c4) ++ be16b(0))
    val mdia = box("mdia", mdhd ++ hdlr ++ minf)
    val tkhd = fullBox("tkhd", be32b(0) ++ be32b(0) ++ be32b(1) ++
      be32b(0) ++ be32b(dur) ++ Array.fill[Byte](8)(0) ++
      be16b(0) ++ be16b(0) ++ be16b(0) ++ be16b(0) ++
      (be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++
       be32b(0) ++ be32b(0x00010000) ++ be32b(0) ++
       be32b(0) ++ be32b(0) ++ be32b(0x40000000)) ++
      be32b(w << 16) ++ be32b(h << 16))
    val trak = box("trak", tkhd ++ mdia)
    val mvhd = fullBox("mvhd", be32b(0) ++ be32b(0) ++
      be32b(timescale) ++ be32b(dur) ++ be32b(0x00010000) ++
      Array[Byte](0x01, 0x00, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (be32b(0x00010000) ++ be32b(0) ++ be32b(0) ++
       be32b(0) ++ be32b(0x00010000) ++ be32b(0) ++
       be32b(0) ++ be32b(0) ++ be32b(0x40000000)) ++
      Array.fill[Byte](24)(0) ++ be32b(2))
    box("moov", mvhd ++ trak ++ extra)
  }
}
