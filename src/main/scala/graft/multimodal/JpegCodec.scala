package graft.multimodal

/** Baseline JPEG pixel decode for the perceptual-hash tier — REAL
  * entropy + transform decode with no codec library: marker/segment
  * walk (DQT/DHT/SOF0/SOF1/DRI/SOS), canonical Huffman decoding
  * (ITU T.81 §F.2.2 mincode/maxcode/valptr), byte-unstuffing bit
  * reader, restart-marker handling, dequantization through the
  * zigzag order, and a separable double-precision IDCT. Output is the
  * LUMA plane directly: JPEG's Y channel IS the BT.601 luma the
  * perceptual tier hashes, so chroma blocks are entropy-decoded (the
  * bitstream must advance) and discarded — no YCbCr→RGB detour.
  *
  * Supported: baseline/extended sequential (SOF0/SOF1), 8-bit, 1 or 3
  * components, luma at the maximal sampling factor (the JFIF shape —
  * covers 4:4:4, 4:2:2, 4:2:0), restart intervals; progressive (SOF2)
  * streams decode through [[JpegProgressive]]. Arithmetic coding,
  * 12-bit, and luma-subsampled-below-chroma streams return None —
  * the remaining documented seams.
  *
  * Exactness property the fixtures lean on: the scene renderings are
  * block-constant on the 8×8 JPEG MCU grid, so every block is DC-only
  * — with the unit quantization table the forward DCT's DC is the
  * exact integer 8·(v−128), AC quantizes to 0, and the IDCT of a
  * DC-only block is DC/8 (a power-of-2 division, exact in doubles
  * after rounding). A lossy codec is bit-exact on this fixture family,
  * which is what lets planted JPEG variants join the hash-green
  * mm_phash/mm_dedup_near oracles; general photographic content
  * decodes with ordinary JPEG loss.
  *
  * Hostile-input discipline matches [[PixelCodec]]: decode never
  * throws — truncated segments, invalid Huffman codes, coefficient
  * overruns, missing tables, or unsupported modes return None.
  */
object JpegCodec {
  import PixelCodec.Gray
  import Bytes.{be16, be16b, u8}

  /** Zigzag index k → natural (row-major) index (T.81 Figure 5). */
  private[multimodal] val Zigzag: Array[Int] = {
    val zz = new Array[Int](64)
    var k = 0
    var x = 0; var y = 0; var up = true
    while (k < 64) {
      zz(k) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      k += 1
    }
    zz
  }

  /** cos((2x+1)·u·π/16) premultiplied by C(u)/2 — the separable IDCT
    * (and forward DCT) basis. */
  private[multimodal] val Basis: Array[Double] = {
    val t = new Array[Double](64)
    var u = 0
    while (u < 8) {
      val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      var x = 0
      while (x < 8) {
        t(u * 8 + x) = 0.5 * cu * math.cos((2 * x + 1) * u * math.Pi / 16)
        x += 1
      }
      u += 1
    }
    t
  }

  // ---- canonical Huffman tables (decode side: T.81 §F.2.2.3) ----

  private[multimodal] final class Huff(counts: Array[Int],
      val symbols: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (counts(l - 1) == 0) maxCode(l) = -1
        else {
          valPtr(l) = k
          minCode(l) = code
          code += counts(l - 1); k += counts(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  /** Read a DQT segment body [seg, segEnd) — one or more 8-bit tables
    * — into `qt`; false on a 16-bit table, a table id over 3 or a table
    * running past the segment. Shared by the sequential and the
    * progressive decoder. */
  private[multimodal] def readDqt(b: Array[Byte], seg: Int, segEnd: Int,
      qt: Array[Array[Int]]): Boolean = {
    var q = seg
    while (q < segEnd) {
      val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
      if (pq != 0 || tq > 3 || q + 65 > segEnd) return false
      qt(tq) = Array.tabulate(64)(i => u8(b, q + 1 + i))
      q += 65
    }
    true
  }

  /** Read a DHT segment body [seg, segEnd) — one or more tables — into
    * `dcT`/`acT`; false on a class over 1, a table id over 3, an empty
    * or over-256-symbol table, or a table running past the segment. */
  private[multimodal] def readDht(b: Array[Byte], seg: Int, segEnd: Int,
      dcT: Array[Huff], acT: Array[Huff]): Boolean = {
    var q = seg
    while (q < segEnd) {
      val tc = u8(b, q) >> 4; val th = u8(b, q) & 15
      if (tc > 1 || th > 3 || q + 17 > segEnd) return false
      val counts = Array.tabulate(16)(i => u8(b, q + 1 + i))
      val n = counts.sum
      if (n == 0 || n > 256 || q + 17 + n > segEnd) return false
      val syms = Array.tabulate(n)(i => u8(b, q + 17 + i))
      val tbl = new Huff(counts, syms)
      if (tc == 0) dcT(th) = tbl else acT(th) = tbl
      q += 17 + n
    }
    true
  }

  /** Scan-data bit reader with FF00 unstuffing. A non-stuffing marker
    * ends the readable stream (markerAhead); restart handling consumes
    * it explicitly. */
  private[multimodal] final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var truncated = false

    def nextBit(): Int = {
      if (nbits == 0) {
        if (pos >= b.length) { truncated = true; return 0 }
        var v = u8(b, pos); pos += 1
        if (v == 0xff) {
          if (pos >= b.length || u8(b, pos) != 0x00) {
            // marker in scan data where bits were demanded: corrupt
            truncated = true; pos -= 1; return 0
          }
          pos += 1 // stuffed zero byte
        }
        acc = v; nbits = 8
      }
      nbits -= 1
      (acc >> nbits) & 1
    }

    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | nextBit(); i += 1 }
      v
    }

    /** Byte-align and consume an expected RSTn marker. T.81 B.1.1.2
      * permits any number of 0xFF fill bytes before a marker, so skip
      * leading FF FF runs before requiring FF D0+n. */
    def consumeRst(n: Int): Boolean = {
      nbits = 0
      while (pos + 1 < b.length && u8(b, pos) == 0xff &&
          u8(b, pos + 1) == 0xff) pos += 1
      if (pos + 1 >= b.length || u8(b, pos) != 0xff ||
          u8(b, pos + 1) != (0xd0 + n)) false
      else { pos += 2; true }
    }
  }

  private[multimodal] def decodeHuffSym(r: BitReader, h: Huff): Int = {
    var code = r.nextBit()
    var l = 1
    while (l <= 16) {
      if (h.maxCode(l) >= 0 && code <= h.maxCode(l)) {
        val idx = h.valPtr(l) + code - h.minCode(l)
        if (idx < 0 || idx >= h.symbols.length) return -1
        return h.symbols(idx)
      }
      code = (code << 1) | r.nextBit()
      l += 1
    }
    -1 // no code of length ≤ 16 matched: corrupt stream
  }

  /** T.81 EXTEND: map a t-bit magnitude to its signed value. */
  private[multimodal] def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private case class Component(id: Int, h: Int, v: Int, tq: Int)

  /** Separable IDCT of one dequantized (natural-order) block, written
    * level-shifted and clamped into a luma plane at (px0, py0) — the
    * shared output stage of the sequential and progressive decoders. */
  private[multimodal] def idctToPlane(coef: Array[Int],
      tmp: Array[Double], plane: Array[Int], planeW: Int,
      px0: Int, py0: Int): Unit = {
    var y0 = 0
    while (y0 < 8) { // row pass over u for each output y
      var x0 = 0
      while (x0 < 8) {
        tmp(y0 * 8 + x0) = {
          var s = 0.0; var u = 0
          while (u < 8) {
            s += Basis(u * 8 + x0) * coef(y0 * 8 + u); u += 1
          }
          s
        }
        x0 += 1
      }
      y0 += 1
    }
    var yy = 0
    while (yy < 8) {
      var xx = 0
      while (xx < 8) {
        var s = 0.0; var v = 0
        while (v < 8) { s += Basis(v * 8 + yy) * tmp(v * 8 + xx); v += 1 }
        val out = math.rint(s + 128.0).toInt
        plane((py0 + yy) * planeW + px0 + xx) =
          if (out < 0) 0 else if (out > 255) 255 else out
        xx += 1
      }
      yy += 1
    }
  }

  /** Decode a JPEG to its luma plane: baseline/extended sequential
    * (SOF0/SOF1) here, progressive (SOF2) via [[JpegProgressive]]. */
  def decodeJpeg(b: Array[Byte]): Option[Gray] =
    (try decode0(b)
     catch { case _: RuntimeException => None }) // belt over the checks
      .orElse(JpegProgressive.decode(b))

  private def decode0(b: Array[Byte]): Option[Gray] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var p = 2
    val qt = new Array[Array[Int]](4)
    val dcT = new Array[Huff](4)
    val acT = new Array[Huff](4)
    var comps: Vector[Component] = Vector.empty
    var w = 0; var h = 0
    var restartInterval = 0
    var sosAt = -1
    var dcSel: Array[Int] = null
    var acSel: Array[Int] = null

    while (sosAt < 0) {
      if (p + 4 > b.length) return None
      if (u8(b, p) != 0xff) return None
      val m = u8(b, p + 1)
      if (m == 0xff) { p += 1 }        // fill byte before a marker
      else if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) {
        p += 2                          // standalone SOI/TEM/RSTn
      }
      else {
        val len = be16(b, p + 2)
        if (len < 2 || p + 2 + len > b.length) return None
        val seg = p + 4
        val segEnd = p + 2 + len
        m match {
          case 0xdb => // DQT: one or more tables
            if (!readDqt(b, seg, segEnd, qt)) return None
          case 0xc4 => // DHT: one or more tables
            if (!readDht(b, seg, segEnd, dcT, acT)) return None
          case 0xc0 | 0xc1 => // SOF0/SOF1: (extended) sequential DCT
            if (u8(b, seg) != 8) return None // 8-bit precision only
            h = be16(b, seg + 1); w = be16(b, seg + 3)
            val nc = u8(b, seg + 5)
            if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26) ||
                (nc != 1 && nc != 3) || seg + 6 + nc * 3 > segEnd)
              return None
            comps = (0 until nc).map { i =>
              val o = seg + 6 + i * 3
              Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15,
                u8(b, o + 2))
            }.toVector
            if (comps.exists(c => c.h < 1 || c.h > 4 || c.v < 1 ||
                c.v > 4 || c.tq > 3)) return None
          case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
               0xcd | 0xce | 0xcf =>
            return None // progressive/lossless/arithmetic: unsupported
          case 0xdd => // DRI
            if (len != 4) return None
            restartInterval = be16(b, seg)
          case 0xda => // SOS
            if (comps.isEmpty) return None
            val ns = u8(b, seg)
            if (ns != comps.length || seg + 1 + ns * 2 + 3 > segEnd)
              return None
            dcSel = new Array[Int](comps.length)
            acSel = new Array[Int](comps.length)
            var i = 0
            while (i < ns) {
              val cs = u8(b, seg + 1 + i * 2)
              val ci = comps.indexWhere(_.id == cs)
              if (ci != i) return None // interleaved, SOF order only
              dcSel(i) = u8(b, seg + 2 + i * 2) >> 4
              acSel(i) = u8(b, seg + 2 + i * 2) & 15
              i += 1
            }
            // full-spectrum sequential scan only
            if (u8(b, segEnd - 3) != 0 || u8(b, segEnd - 2) != 63 ||
                u8(b, segEnd - 1) != 0) return None
            sosAt = segEnd
          case 0xd9 => return None // EOI before any scan
          case _ => () // APPn/COM/etc.: skip
        }
        if (sosAt < 0) p = segEnd
      }
    }

    val hmax = comps.map(_.h).max
    val vmax = comps.map(_.v).max
    // luma = first component, at maximal sampling (the JFIF shape)
    if (comps(0).h != hmax || comps(0).v != vmax) return None
    if (comps.exists(c => qt(c.tq) == null)) return None
    if (comps.indices.exists(i =>
        dcT(dcSel(i)) == null || acT(acSel(i)) == null)) return None

    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val lumaW = mcusX * hmax * 8
    val luma = new Array[Int](lumaW * mcusY * vmax * 8)

    val r = new BitReader(b, sosAt)
    val pred = new Array[Int](comps.length)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    var rstCount = 0
    var mcu = 0
    val nMcus = mcusX * mcusY
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!r.consumeRst(rstCount & 7)) return None
        rstCount += 1
        java.util.Arrays.fill(pred, 0)
      }
      val mcuX = mcu % mcusX
      val mcuY = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = qt(c.tq)
        val dh = dcT(dcSel(ci)); val ah = acT(acSel(ci))
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            java.util.Arrays.fill(coef, 0)
            val t = decodeHuffSym(r, dh)
            if (t < 0 || t > 15) return None
            pred(ci) += extend(r.receive(t), t)
            coef(0) = pred(ci) * q(0)
            var k = 1
            var eob = false
            while (k < 64 && !eob) {
              val rs = decodeHuffSym(r, ah)
              if (rs < 0) return None
              val run = rs >> 4; val size = rs & 15
              if (size == 0) {
                if (run == 15) k += 16 else eob = true
              } else {
                k += run
                if (k > 63) return None
                // DQT tables ride in zigzag order (T.81 B.2.4.1): the
                // k-th scanned coefficient dequantizes by q(k), landing
                // at natural position Zigzag(k)
                coef(Zigzag(k)) = extend(r.receive(size), size) * q(k)
                k += 1
              }
            }
            if (r.truncated) return None
            if (ci == 0) {
              // separable IDCT into the luma plane; chroma blocks are
              // entropy-decoded above (stream position) and dropped
              idctToPlane(coef, tmp, luma, lumaW,
                (mcuX * c.h + bx) * 8, (mcuY * c.v + by) * 8)
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      if (r.truncated) return None
      mcu += 1
    }

    // crop the padded plane to the declared dimensions
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      System.arraycopy(luma, y * lumaW, px, y * w, w)
      y += 1
    }
    Some(Gray(w, h, px))
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  // Standard luminance Huffman tables, ITU T.81 Annex K.3.3 — the
  // tables every JFIF encoder ships; public specification constants.
  private[multimodal] val StdDcCounts =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private[multimodal] val StdDcSymbols = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private[multimodal] val StdAcCounts =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private[multimodal] val StdAcSymbols = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** (code, length) per symbol from canonical (counts, symbols). */
  private[multimodal] def encTable(counts: Array[Int],
      symbols: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    var l = 1
    while (l <= 16) {
      var i = 0
      while (i < counts(l - 1)) {
        out += symbols(k) -> ((code, l)); code += 1; k += 1; i += 1
      }
      code <<= 1
      l += 1
    }
    out.result()
  }
  private[multimodal] lazy val EncDc = encTable(StdDcCounts, StdDcSymbols)
  private[multimodal] lazy val EncAc = encTable(StdAcCounts, StdAcSymbols)

  private[multimodal] final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); nbits += 1
        if (nbits == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    /** Flush with 1-padding (T.81 marker-alignment convention). */
    def flush(): Unit = if (nbits > 0) { put(0xff, 8 - nbits) }
  }

  private[multimodal] def magnitude(v: Int): Int = {
    var t = 0; var a = math.abs(v)
    while (a > 0) { a >>= 1; t += 1 }
    t
  }

  /** Forward DCT + unit-table quantization of one level-shifted block
    * (row-major ints) → zigzag-ordered coefficients. */
  private[multimodal] def fdctQuant(blk: Array[Double]): Array[Int] = {
    val t = new Array[Double](64)
    var v = 0
    while (v < 8) { // row pass: over x for each u
      var u = 0
      while (u < 8) {
        var s = 0.0; var x = 0
        while (x < 8) { s += Basis(u * 8 + x) * blk(v * 8 + x); x += 1 }
        t(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val out = new Array[Int](64)
    var k = 0
    while (k < 64) {
      val nat = Zigzag(k)
      val u = nat % 8; val vv = nat / 8
      var s = 0.0; var y = 0
      while (y < 8) { s += Basis(vv * 8 + y) * t(y * 8 + u); y += 1 }
      var c = math.rint(s).toInt
      // the Annex K AC table tops out at size 10: clamp AC magnitudes
      // to 1023 (lossy on extreme checkerboards, which general content
      // already is; block-constant fixtures have AC = 0 regardless)
      if (k > 0) { if (c > 1023) c = 1023 else if (c < -1023) c = -1023 }
      out(k) = c
      k += 1
    }
    out
  }

  private def writeBlock(bw: BitWriter, zz: Array[Int],
      pred: Int): Int = {
    val diff = zz(0) - pred
    val t = magnitude(diff)
    val (c, l) = EncDc(t)
    bw.put(c, l)
    if (t > 0)
      bw.put(if (diff < 0) diff + (1 << t) - 1 else diff, t)
    var k = 1
    var run = 0
    while (k < 64) {
      if (zz(k) == 0) run += 1
      else {
        while (run >= 16) { val (zc, zl) = EncAc(0xf0); bw.put(zc, zl); run -= 16 }
        val s = magnitude(zz(k))
        val (ac, al) = EncAc((run << 4) | s)
        bw.put(ac, al)
        bw.put(if (zz(k) < 0) zz(k) + (1 << s) - 1 else zz(k), s)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = EncAc(0x00); bw.put(ec, el) }
    zz(0)
  }

  /** Encode luma as a baseline JPEG with the UNIT quantization table
    * (block-constant content round-trips bit-exactly — see object
    * scaladoc). `color = true` writes a 3-component YCbCr stream (Y
    * from the image at `ySampH`×`ySampV` sampling, chroma constant 128
    * → all-zero blocks) so the interleaved-MCU decode path is real;
    * `restartInterval` > 0 emits DRI + RSTn markers. Dimensions need
    * not divide the MCU: edge pixels replicate into the padding. */
  def encodeJpeg(g: Gray, color: Boolean = false, ySampH: Int = 1,
      ySampV: Int = 1, restartInterval: Int = 0): Array[Byte] = {
    require(ySampH >= 1 && ySampH <= 2 && ySampV >= 1 && ySampV <= 2)
    require(color || (ySampH == 1 && ySampV == 1),
      "grayscale is always 1x1")
    val out = new java.io.ByteArrayOutputStream()
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, payload: Array[Int]): Unit = {
      marker(m)
      out.write(be16b(payload.length + 2))
      payload.foreach(out.write)
    }
    marker(0xd8) // SOI
    seg(0xdb, Array(0x00) ++ Array.fill(64)(1)) // DQT 0: unit table
    seg(0xc4, Array(0x00) ++ StdDcCounts ++ StdDcSymbols) // DHT DC 0
    seg(0xc4, Array(0x10) ++ StdAcCounts ++ StdAcSymbols) // DHT AC 0
    val comps =
      if (color) Seq((1, ySampH, ySampV), (2, 1, 1), (3, 1, 1))
      else Seq((1, 1, 1))
    seg(0xc0, Array(8, g.height >> 8, g.height & 0xff,
      g.width >> 8, g.width & 0xff, comps.length) ++
      comps.flatMap { case (id, sh, sv) => Seq(id, (sh << 4) | sv, 0) })
    if (restartInterval > 0)
      seg(0xdd, Array(restartInterval >> 8, restartInterval & 0xff))
    seg(0xda, Array(comps.length) ++
      comps.flatMap { case (id, _, _) => Seq(id, 0x00) } ++
      Seq(0, 63, 0))

    val bw = new BitWriter(out)
    val mcusX = (g.width + 8 * ySampH - 1) / (8 * ySampH)
    val mcusY = (g.height + 8 * ySampV - 1) / (8 * ySampV)
    val pred = new Array[Int](comps.length)
    val zeroZz = new Array[Int](64)
    val blk = new Array[Double](64)
    var rstCount = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bw.flush()
        marker(0xd0 + (rstCount & 7))
        rstCount += 1
        java.util.Arrays.fill(pred, 0)
      }
      val mcuX = mcu % mcusX
      val mcuY = mcu / mcusX
      // Y blocks from the image (edge-replicated padding)
      var by = 0
      while (by < ySampV) {
        var bx = 0
        while (bx < ySampH) {
          var i = 0
          while (i < 64) {
            val x = math.min((mcuX * ySampH + bx) * 8 + i % 8, g.width - 1)
            val y = math.min((mcuY * ySampV + by) * 8 + i / 8, g.height - 1)
            blk(i) = g.luma(y * g.width + x) - 128.0
            i += 1
          }
          pred(0) = writeBlock(bw, fdctQuant(blk), pred(0))
          bx += 1
        }
        by += 1
      }
      // constant-128 chroma → level-shifted zero → all-zero blocks
      if (color) {
        pred(1) = writeBlock(bw, zeroZz, pred(1))
        pred(2) = writeBlock(bw, zeroZz, pred(2))
      }
      mcu += 1
    }
    bw.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }
}
