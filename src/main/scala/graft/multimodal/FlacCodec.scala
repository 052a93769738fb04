package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** FLAC decode for the audio-fingerprint tier — REAL lossless decode
  * with no codec library, closing the compressed-audio seam
  * [[AudioCodec]] documents: `fLaC` metadata walk (STREAMINFO +
  * skipped blocks), frame-header parse (block-size/sample-rate codes,
  * UTF-8-coded frame numbers, CRC-8), subframe decode in all four
  * types (constant, verbatim, fixed predictors 0–4, LPC with
  * quantized coefficients), Rice/Rice2 residual partitions with
  * escape codes, wasted-bits shifts, the three stereo-decorrelation
  * modes (left/side, right/side, mid/side), and frame CRC-16
  * verification. FLAC is lossless, so the planted-fixture exactness
  * discipline carries over bit-for-bit: a FLAC rendering of a scene
  * envelope decodes to the SAME samples its WAV twin carries, and the
  * md5-arithmetic fingerprint oracles apply unchanged.
  *
  * Output is mono 16-bit PCM ([[AudioCodec.Pcm]]): stereo downmixes
  * by the exact integer mean ⌊(l + r) / 2⌋, the same rule as the WAV
  * path, so channel-layout variants land identical envelopes.
  *
  * Hostile-input discipline matches [[AudioCodec]]: decode never
  * throws — truncated frames, bad sync, CRC-8/CRC-16 mismatches,
  * reserved subframe types, invalid residual partitions, or non-16-bit
  * streams return None.
  */
object FlacCodec {
  import AudioCodec.Pcm

  import Bytes.{Crc16, Crc8, MsbBitReader, MsbBitWriter, be24}

  /** UTF-8-coded frame/sample number (T.81-style extended UTF-8, up to
    * 7 bytes); -1 = malformed. */
  private def readUtf8(r: MsbBitReader): Long = {
    val b0 = r.bits(8)
    if ((b0 & 0x80) == 0) return b0
    var n = 0
    var m = 0x40
    while ((b0 & m) != 0 && n < 7) { n += 1; m >>= 1 }
    if (n < 1 || n > 6) return -1
    var v: Long = b0 & (m - 1)
    var i = 0
    while (i < n) {
      val c = r.bits(8)
      if ((c & 0xc0) != 0x80) return -1
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  /** Decode a 16-bit mono/stereo FLAC stream to mono PCM; None on
    * anything malformed or unsupported (≠16 bps, >2 channels). */
  def decodeFlac16(b: Array[Byte]): Option[Pcm] =
    try decode0(b)
    catch { case _: RuntimeException => None } // truncation/corruption

  private def decode0(b: Array[Byte]): Option[Pcm] = {
    if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
        b(3) != 'C') return None
    // metadata walk: STREAMINFO must come first (format spec §9.1)
    var p = 4
    var last = false
    var sampleRate = 0; var channels = 0; var bps = 0
    var totalSamples = 0L
    var first = true
    while (!last) {
      if (p + 4 > b.length) return None
      val h = b(p) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = be24(b, p + 1)
      if (p + 4 + len > b.length) return None
      if (first) {
        if (typ != 0 || len != 34) return None // STREAMINFO first
        val r = new MsbBitReader(b, p + 4, b.length)
        r.bits(16); r.bits(16) // min/max block size
        r.bits(24); r.bits(24) // min/max frame size
        sampleRate = r.bits(20)
        channels = r.bits(3) + 1
        bps = r.bits(5) + 1
        totalSamples = r.bitsL(36)
        first = false
      } else if (typ == 127) return None // invalid block type
      p += 4 + len
    }
    if (sampleRate <= 0 || bps != 16 || channels < 1 || channels > 2)
      return None

    val mono = new ArrayBuffer[Int](
      math.min(totalSamples, 1 << 20).toInt max 16)
    var frames = 0
    while (p < b.length) {
      p = decodeFrame(b, p, channels, mono).getOrElse(return None)
      frames += 1
      if (mono.length > (1 << 26) || frames > (1 << 20)) return None
    }
    if (mono.isEmpty) return None
    if (totalSamples > 0 && mono.length != totalSamples) return None
    Some(Pcm(sampleRate, mono.toArray))
  }

  /** Decode one frame starting at byte `start`; append downmixed
    * samples; return the next frame's byte offset, or None. */
  private def decodeFrame(b: Array[Byte], start: Int, chans: Int,
      mono: ArrayBuffer[Int]): Option[Int] = {
    val r = new MsbBitReader(b, start, b.length)
    if (r.bits(14) != 0x3ffe) return None // sync
    if (r.bit() != 0) return None          // reserved
    r.bit()                                // blocking strategy
    val bsCode = r.bits(4)
    val srCode = r.bits(4)
    val chanAsgn = r.bits(4)
    val ssCode = r.bits(3)
    if (r.bit() != 0) return None          // reserved
    if (readUtf8(r) < 0) return None
    val blockSize = bsCode match {
      case 0 => return None // reserved
      case 1 => 192
      case 6 => r.bits(8) + 1
      case 7 => r.bits(16) + 1
      case c if c <= 5 => 576 << (c - 2)
      case c => 256 << (c - 8)
    }
    srCode match {
      case 12 => r.bits(8)
      case 13 | 14 => r.bits(16)
      case 15 => return None
      case _ => ()
    }
    ssCode match {
      case 0 | 4 => () // from STREAMINFO (16 enforced there) / 16-bit
      case _ => return None // ≠16-bit or reserved
    }
    if (blockSize <= 0 || blockSize > (1 << 20)) return None
    // CRC-8 over the header bytes (reader is byte-aligned here)
    val hdrEnd = r.byteAt
    if (Crc8(b, start, hdrEnd) != r.bits(8)) return None

    val nch = if (chanAsgn <= 7) chanAsgn + 1
      else if (chanAsgn <= 10) 2
      else return None
    if (nch != chans) return None

    val ch = new Array[Array[Int]](nch)
    var c = 0
    while (c < nch) {
      val extra =
        if ((chanAsgn == 8 && c == 1) || (chanAsgn == 9 && c == 0) ||
            (chanAsgn == 10 && c == 1)) 1 else 0
      ch(c) = decodeSubframe(r, blockSize, 16 + extra)
        .getOrElse(return None)
      c += 1
    }
    r.alignByte()
    val frameEnd = r.byteAt
    if (frameEnd + 2 > b.length) return None
    if (Crc16(b, start, frameEnd) != r.bits(16)) return None

    // stereo reconstruction + exact integer downmix
    var i = 0
    if (nch == 1) {
      while (i < blockSize) { mono += clamp16(ch(0)(i)); i += 1 }
    } else {
      while (i < blockSize) {
        val (l, rr) = chanAsgn match {
          case 8 => val l0 = ch(0)(i); (l0, l0 - ch(1)(i)) // left/side
          case 9 => val r0 = ch(1)(i); (r0 + ch(0)(i), r0) // side/right
          case 10 => // mid/side
            val side = ch(1)(i)
            val m2 = (ch(0)(i) << 1) | (side & 1)
            ((m2 + side) >> 1, (m2 - side) >> 1)
          case _ => (ch(0)(i), ch(1)(i)) // independent
        }
        mono += clamp16(Math.floorDiv(l + rr, 2))
        i += 1
      }
    }
    Some(r.byteAt)
  }

  private def clamp16(v: Int): Int =
    if (v < -32768) -32768 else if (v > 32767) 32767 else v

  private def decodeSubframe(r: MsbBitReader, n: Int,
      bps: Int): Option[Array[Int]] = {
    if (r.bit() != 0) return None // padding bit
    val t = r.bits(6)
    var wasted = 0
    if (r.bit() == 1) wasted = r.unary() + 1
    val eb = bps - wasted
    if (eb <= 0 || eb > 17) return None
    val out = new Array[Int](n)
    if (t == 0) { // constant
      val v = r.signed(eb)
      java.util.Arrays.fill(out, v)
    } else if (t == 1) { // verbatim
      var i = 0
      while (i < n) { out(i) = r.signed(eb); i += 1 }
    } else if (t >= 8 && t <= 12) { // fixed predictor, order 0-4
      val order = t - 8
      if (order > n) return None
      var i = 0
      while (i < order) { out(i) = r.signed(eb); i += 1 }
      if (!readResidual(r, out, order, n)) return None
      i = order
      while (i < n) {
        out(i) += (order match {
          case 0 => 0
          case 1 => out(i - 1)
          case 2 => 2 * out(i - 1) - out(i - 2)
          case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
          case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) -
            out(i - 4)
        })
        i += 1
      }
    } else if (t >= 32) { // LPC, order 1-32
      val order = (t & 31) + 1
      if (order > n) return None
      var i = 0
      while (i < order) { out(i) = r.signed(eb); i += 1 }
      val precision = r.bits(4) + 1
      if (precision == 16 /* 0b1111 + 1 */ ) return None // invalid
      val shift = r.signed(5)
      if (shift < 0) return None
      val coefs = new Array[Int](order)
      i = 0
      while (i < order) { coefs(i) = r.signed(precision); i += 1 }
      if (!readResidual(r, out, order, n)) return None
      i = order
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
        out(i) += (acc >> shift).toInt
        i += 1
      }
    } else return None // reserved types
    if (wasted > 0) {
      var i = 0
      while (i < n) { out(i) <<= wasted; i += 1 }
    }
    Some(out)
  }

  /** Rice/Rice2 residual partitions into out(order until n). */
  private def readResidual(r: MsbBitReader, out: Array[Int], order: Int,
      n: Int): Boolean = {
    val method = r.bits(2)
    if (method > 1) return false
    val pbits = if (method == 0) 4 else 5
    val escape = (1 << pbits) - 1
    val po = r.bits(4)
    val partitions = 1 << po
    if (n % partitions != 0) return false
    val perPart = n / partitions
    if (perPart <= order && partitions == 1) return false
    var idx = order
    var p = 0
    while (p < partitions) {
      val cnt = if (p == 0) perPart - order else perPart
      if (cnt < 0) return false
      val param = r.bits(pbits)
      var i = 0
      if (param == escape) {
        val raw = r.bits(5)
        while (i < cnt) {
          out(idx) = if (raw == 0) 0 else r.signed(raw)
          idx += 1; i += 1
        }
      } else {
        while (i < cnt) {
          val q = r.unary()
          val u = (q.toLong << param) | r.bits(param)
          out(idx) = ((u >>> 1) ^ -(u & 1L)).toInt
          idx += 1; i += 1
        }
      }
      p += 1
    }
    true
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  private def writeUtf8(bw: MsbBitWriter, v: Long): Unit =
    if (v < 0x80) bw.bits(v, 8)
    else if (v < 0x800) {
      bw.bits(0xc0 | (v >> 6), 8); bw.bits(0x80 | (v & 0x3f), 8)
    } else if (v < 0x10000) {
      bw.bits(0xe0 | (v >> 12), 8); bw.bits(0x80 | ((v >> 6) & 0x3f), 8)
      bw.bits(0x80 | (v & 0x3f), 8)
    } else {
      bw.bits(0xf0 | (v >> 18), 8); bw.bits(0x80 | ((v >> 12) & 0x3f), 8)
      bw.bits(0x80 | ((v >> 6) & 0x3f), 8); bw.bits(0x80 | (v & 0x3f), 8)
    }

  /** Optimal-ish Rice parameter for a residual slice: minimize the
    * exact coded bit count over the 4-bit parameter range. */
  private def ricePick(err: Array[Int], from: Int,
      until: Int): (Int, Long) = {
    var best = -1; var bestBits = Long.MaxValue
    var p = 0
    while (p <= 14) {
      var bits = 0L
      var i = from
      while (i < until) {
        val u = (err(i).toLong << 1) ^ (err(i).toLong >> 63)
        bits += (u >>> p) + 1 + p
        i += 1
      }
      if (bits < bestBits) { bestBits = bits; best = p }
      p += 1
    }
    (best, bestBits)
  }

  /** Encode 16-bit PCM as FLAC: mono or interleaved stereo, fixed
    * block size, frame subframe types rotating constant / fixed
    * order-2 Rice / verbatim / order-2 LPC (by content and frame
    * index — the LPC frames carry quantized coefficients {2, −1} at
    * shift 0, the fixed-order-2 polynomial expressed through the LPC
    * path, so the coefficient/shift decode is exercised by real
    * planted bytes), and stereo frames rotating independent /
    * left-side / mid-side decorrelation. `metaPadding` plants a
    * PADDING metadata block (bytes a re-encoder would drop, same role
    * as WAV's LIST). */
  def encodeFlac16(samples: Array[Int], sampleRate: Int, channels: Int,
      blockSize: Int = 512, metaPadding: Int = 0): Array[Byte] = {
    require(channels == 1 || channels == 2)
    require(samples.length % channels == 0 && samples.nonEmpty)
    require(blockSize >= 16 && blockSize <= 65536)
    val nTotal = samples.length / channels
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (34 bytes)
    val si = new MsbBitWriter
    val lastBlock = if (nTotal % blockSize == 0) blockSize
      else nTotal % blockSize
    si.bits(math.min(blockSize, lastBlock).toLong, 16)
    si.bits(blockSize.toLong, 16)
    si.bits(0, 24); si.bits(0, 24) // frame sizes unknown
    si.bits(sampleRate.toLong, 20)
    si.bits((channels - 1).toLong, 3)
    si.bits(15, 5) // bps - 1
    si.bits(nTotal.toLong, 36)
    si.bits(0, 64); si.bits(0, 64) // md5 unset
    val siBytes = si.result()
    out.write(if (metaPadding > 0) 0x00 else 0x80) // STREAMINFO, last?
    out.write(0); out.write(0); out.write(34)
    out.write(siBytes)
    if (metaPadding > 0) {
      out.write(0x81) // PADDING, last
      out.write((metaPadding >> 16) & 0xff)
      out.write((metaPadding >> 8) & 0xff)
      out.write(metaPadding & 0xff)
      out.write(new Array[Byte](metaPadding))
    }

    var frameIdx = 0L
    var s0 = 0
    while (s0 < nTotal) {
      val n = math.min(blockSize, nTotal - s0)
      val bw = new MsbBitWriter
      bw.bits(0x3ffe, 14)
      bw.bits(0, 1) // reserved
      bw.bits(0, 1) // fixed blocking
      bw.bits(7, 4) // block size: 16-bit n-1 at header end
      bw.bits(0, 4) // sample rate: from STREAMINFO
      val asgn =
        if (channels == 1) 0
        else (frameIdx % 3) match {
          case 0 => 1  // independent L,R
          case 1 => 8  // left/side
          case _ => 10 // mid/side
        }
      bw.bits(asgn.toLong, 4)
      bw.bits(4, 3) // 16-bit samples
      bw.bits(0, 1) // reserved
      writeUtf8(bw, frameIdx)
      bw.bits((n - 1).toLong, 16)
      val hdr = bw.result()
      out.write(hdr)
      out.write(Crc8(hdr, 0, hdr.length))

      // channel extraction (+ decorrelation)
      val chans: Seq[(Array[Int], Int)] =
        if (channels == 1)
          Seq((Array.tabulate(n)(i => samples(s0 + i)), 16))
        else {
          val l = Array.tabulate(n)(i => samples((s0 + i) * 2))
          val rr = Array.tabulate(n)(i => samples((s0 + i) * 2 + 1))
          asgn match {
            case 1 => Seq((l, 16), (rr, 16))
            case 8 =>
              Seq((l, 16), (Array.tabulate(n)(i => l(i) - rr(i)), 17))
            case _ =>
              Seq((Array.tabulate(n)(i => (l(i) + rr(i)) >> 1), 16),
                (Array.tabulate(n)(i => l(i) - rr(i)), 17))
          }
        }

      val body = new MsbBitWriter
      for ((cs, eb) <- chans) {
        body.bits(0, 1) // padding bit
        val allEqual = cs.forall(_ == cs(0))
        if (allEqual) {
          body.bits(0, 6) // constant
          body.bits(0, 1) // no wasted bits
          body.signed(cs(0), eb)
        } else if (n < 3 || frameIdx % 4 == 2) {
          body.bits(1, 6) // verbatim
          body.bits(0, 1)
          cs.foreach(body.signed(_, eb))
        } else {
          // order-2 polynomial predictor, through the fixed path or
          // (every 4th frame) the LPC path with coefs {2, -1}/shift 0
          // — identical residuals, distinct decode machinery
          val lpc = frameIdx % 4 == 3
          if (lpc) {
            body.bits(33, 6) // LPC, order 2 (0b100000 | order-1)
            body.bits(0, 1)
            body.signed(cs(0), eb)
            body.signed(cs(1), eb)
            body.bits(4, 4)  // precision 5
            body.signed(0, 5) // shift 0
            body.signed(2, 5)
            body.signed(-1, 5)
          } else {
            body.bits(10, 6) // fixed, order 2
            body.bits(0, 1)
            body.signed(cs(0), eb)
            body.signed(cs(1), eb)
          }
          val err = new Array[Int](n)
          var i = 2
          while (i < n) {
            err(i) = cs(i) - 2 * cs(i - 1) + cs(i - 2)
            i += 1
          }
          val (param, _) = ricePick(err, 2, n)
          body.bits(0, 2)             // Rice, 4-bit params
          body.bits(0, 4)             // partition order 0
          body.bits(param.toLong, 4)
          i = 2
          while (i < n) {
            val u = (err(i).toLong << 1) ^ (err(i).toLong >> 63)
            val q = (u >>> param).toInt
            var z = 0
            while (z < q) { body.bits(0, 1); z += 1 }
            body.bits(1, 1)
            body.bits(u & ((1L << param) - 1), param)
            i += 1
          }
        }
      }
      val bodyBytes = body.result() // zero-aligned
      out.write(bodyBytes)
      // CRC-16 over header + crc8 byte + body
      val frame = out.toByteArray
      val frameStart = frame.length - hdr.length - 1 - bodyBytes.length
      val c16 = Crc16(frame, frameStart, frame.length)
      out.write((c16 >> 8) & 0xff)
      out.write(c16 & 0xff)
      s0 += n
      frameIdx += 1
    }
    out.toByteArray
  }
}
