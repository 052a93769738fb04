package graft.multimodal

/** Lossy WebP (VP8) still-image decode for the perceptual-hash tier —
  * the dominant real-crawl WebP flavor. A WebP `VP8 ` chunk is by
  * container rule a VP8 KEY frame, so this is a complete still
  * decoder per RFC 6386: boolean arithmetic decoding
  * ([[Vp8Entropy]]), frame header (segmentation, loop-filter
  * parameters, quantizer indices + deltas, token probability
  * updates), key-frame intra mode parsing (16×16 DC/V/H/TM, B_PRED
  * with all ten subblock modes, chroma modes), multi-partition
  * coefficient token decode with the band/context model, per-segment
  * dequantization, the exact integer inverse WHT (Y2) and 4×4 IDCT,
  * intra prediction with the spec's 127/129 virtual borders and the
  * stale above-right rule, and the normal/simple loop filters
  * ([[Vp8LoopFilter]]).
  *
  * Output is the LUMA plane directly — VP8's Y channel is the BT.601
  * luma the perceptual tier hashes (same posture as [[JpegCodec]]);
  * chroma coefficients are entropy-decoded (the token stream must
  * advance) and their reconstruction skipped.
  *
  * Exactness property the fixtures lean on (the lossy-codec analog of
  * the JPEG tier's DC-only argument): [[Vp8Encoder]] plants
  * B_DC_PRED subblocks whose residual is CONSTANT per 4×4 block, so
  * each block carries a single DC token; at quantizer index 0 the
  * luma DC step is 4, the planted coefficient is 2·r, the
  * dequantized DC is 8·r, and the integer IDCT of a DC-only block is
  * exactly (8r+4)>>3 = r for any sign — a REAL arithmetic-coded,
  * transform-coded VP8 bitstream that reconstructs the scene
  * bit-exactly (loop filter level 0). Uniform macroblocks ride the
  * 16×16 DC_PRED + Y2 WHT path with the same exactness (64r through
  * the inverse WHT's (x+3)>>3 is 8r exactly).
  *
  * Hostile-input discipline matches the codec tier: decode never
  * throws — truncated partitions (the bool coder's legal 2-byte
  * lookahead is tolerated, deeper overruns fail), bad magic,
  * interframes, dimension overflow, or malformed headers return
  * None.
  *
  * Reference provenance: the reference pipeline treats media blobs as
  * opaque payloads (backfill_user_profiles.py:144-153); the bitstream
  * is the public RFC 6386 specification.
  */
object Vp8Codec {
  import PixelCodec.Gray
  import Vp8Entropy.BoolDecoder
  import Vp8Tables._
  import Bytes.{le16, le24, u8}

  private def fail(msg: String): Nothing =
    throw new IllegalStateException(msg)

  /** Parsed frame-level state shared by mode parse / tokens / recon. */
  private[multimodal] final class Header(
      val width: Int, val height: Int,
      val segEnabled: Boolean, val segUpdateMap: Boolean,
      val segAbs: Boolean, val segQuant: Array[Int],
      val segLf: Array[Int], val segTreeProbs: Array[Int],
      val simpleFilter: Boolean, val filterLevel: Int,
      val sharpness: Int,
      val lfAdjEnabled: Boolean, val refLfDeltas: Array[Int],
      val modeLfDeltas: Array[Int],
      val qIndex: Int, val yDcDelta: Int, val y2DcDelta: Int,
      val y2AcDelta: Int, val uvDcDelta: Int, val uvAcDelta: Int,
      val coefProbs: Array[Array[Array[Array[Int]]]],
      val mbNoSkip: Boolean, val probSkip: Int, val nParts: Int)

  private[multimodal] final class MbInfo {
    var segId = 0
    var skip = false
    var ymode = 0
    var uvmode = 0
    var submodes: Array[Int] = null      // 16 B modes (context + recon)
    var hasCoeffs = false                // loop-filter subblock gate
  }

  /** Decode the VP8 payload at `b[from, until)` to luma. */
  def decodeFrame(b: Array[Byte], from: Int, until: Int): Option[Gray] =
    try decode0(b, from, until)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte], from: Int,
      until: Int): Option[Gray] = {
    if (until - from < 10 || until > b.length) return None
    val tag = le24(b, from)
    if ((tag & 1) != 0) return None        // interframe: not a still
    if (((tag >> 1) & 7) > 3) return None  // version reserved
    val firstPartSize = tag >> 5
    if (u8(b, from + 3) != 0x9d || u8(b, from + 4) != 0x01 ||
        u8(b, from + 5) != 0x2a) return None
    val width = le16(b, from + 6) & 0x3fff
    val height = le16(b, from + 8) & 0x3fff
    if (width == 0 || height == 0) return None
    if (width.toLong * height > (1L << 26)) return None
    val part1 = from + 10
    if (part1.toLong + firstPartSize > until) return None
    val d = new BoolDecoder(b, part1, part1 + firstPartSize)

    d.bit(); d.bit()                       // color space, clamping
    val hdr = readHeader(d, width, height)

    val mbCols = (width + 15) >> 4
    val mbRows = (height + 15) >> 4

    // token partition layout: 3-byte LE sizes for the first n-1
    // partitions follow the first partition; data follows the sizes
    val nParts = hdr.nParts
    val sizesAt = part1 + firstPartSize
    if (sizesAt + 3 * (nParts - 1) > until) return None
    val partStarts = new Array[Int](nParts + 1)
    partStarts(0) = sizesAt + 3 * (nParts - 1)
    var pi = 0
    while (pi < nParts - 1) {
      val sz = le24(b, sizesAt + 3 * pi)
      partStarts(pi + 1) = partStarts(pi) + sz
      if (partStarts(pi + 1) > until) return None
      pi += 1
    }
    partStarts(nParts) = until
    if (partStarts(nParts - 1) > until) return None
    val parts = Array.tabulate(nParts)(i =>
      new BoolDecoder(b, partStarts(i), partStarts(i + 1)))

    // ---- pass 1: per-MB modes (first partition) ----
    val mbs = Array.fill(mbRows * mbCols)(new MbInfo)
    val aboveB = Array.fill(mbCols * 4)(BDcPred)
    var mbY = 0
    while (mbY < mbRows) {
      val leftB = Array.fill(4)(BDcPred)
      var mbX = 0
      while (mbX < mbCols) {
        val mi = mbs(mbY * mbCols + mbX)
        if (hdr.segEnabled && hdr.segUpdateMap)
          mi.segId = d.tree(SegmentTree, hdr.segTreeProbs)
        if (hdr.mbNoSkip) mi.skip = d.bool(hdr.probSkip) == 1
        mi.ymode = d.tree(KfYmodeTree, KfYmodeProb)
        if (mi.ymode == BPred) {
          val sm = new Array[Int](16)
          var i = 0
          while (i < 16) {
            val sr = i >> 2; val sc = i & 3
            val above = if (sr == 0) aboveB(mbX * 4 + sc) else sm(i - 4)
            val left = if (sc == 0) leftB(sr) else sm(i - 1)
            sm(i) = d.tree(BmodeTree, KfBmodeProb(above)(left))
            i += 1
          }
          mi.submodes = sm
        } else {
          // 16×16 modes present a fixed submode to B_PRED neighbors
          val eq = mi.ymode match {
            case DcPred => BDcPred
            case VPred => BVePred
            case HPred => BHePred
            case _ => BTmPred
          }
          mi.submodes = Array.fill(16)(eq)
        }
        var c = 0
        while (c < 4) {
          aboveB(mbX * 4 + c) = mi.submodes(12 + c)
          leftB(c) = mi.submodes(c * 4 + 3)
          c += 1
        }
        mi.uvmode = d.tree(UvModeTree, KfUvModeProb)
        mbX += 1
      }
      mbY += 1
    }
    if (d.overran) return None

    // ---- pass 2: tokens + reconstruction ----
    val planeW = mbCols * 16
    val planeH = mbRows * 16
    val yPlane = new Array[Int](planeW * planeH)

    // per-segment dequant factors
    val dq = Array.tabulate(4) { s =>
      val qi =
        if (!hdr.segEnabled) hdr.qIndex
        else if (hdr.segAbs) hdr.segQuant(s)
        else hdr.qIndex + hdr.segQuant(s)
      dequantFactors(clampQ(qi), hdr.yDcDelta, hdr.y2DcDelta,
        hdr.y2AcDelta, hdr.uvDcDelta, hdr.uvAcDelta)
    }

    // nonzero contexts: per-column above (4 y + 2 u + 2 v + 1 y2)
    val aboveNz = Array.fill(mbCols * 9)(false)
    val yCoef = Array.fill(16)(new Array[Int](16))
    val uvCoef = Array.fill(8)(new Array[Int](16))
    val y2Coef = new Array[Int](16)
    val block = new Array[Int](16)

    mbY = 0
    while (mbY < mbRows) {
      val td = parts(mbY % nParts)
      val leftNz = Array.fill(9)(false)
      var mbX = 0
      while (mbX < mbCols) {
        val mi = mbs(mbY * mbCols + mbX)
        val q = dq(mi.segId)
        val hasY2 = mi.ymode != BPred
        var i = 0
        while (i < 16) { java.util.Arrays.fill(yCoef(i), 0); i += 1 }
        i = 0
        while (i < 8) { java.util.Arrays.fill(uvCoef(i), 0); i += 1 }
        java.util.Arrays.fill(y2Coef, 0)

        if (mi.skip) {
          // no tokens: zero the y/u/v contexts; the y2 context only
          // when the mode carries a y2 block
          var k = 0
          while (k < 8) {
            aboveNz(mbX * 9 + k) = false; leftNz(k) = false; k += 1
          }
          if (hasY2) { aboveNz(mbX * 9 + 8) = false; leftNz(8) = false }
          mi.hasCoeffs = false
        } else {
          var any = false
          if (hasY2) {
            val ctx = (if (aboveNz(mbX * 9 + 8)) 1 else 0) +
              (if (leftNz(8)) 1 else 0)
            val nz = decodeBlock(td, hdr.coefProbs(1), ctx, 0,
              q(2), q(3), y2Coef)
            aboveNz(mbX * 9 + 8) = nz; leftNz(8) = nz
            any |= nz
          }
          val yPlaneType = if (hasY2) 0 else 3
          val yFirst = if (hasY2) 1 else 0
          i = 0
          while (i < 16) {
            val sr = i >> 2; val sc = i & 3
            val ctx = (if (aboveNz(mbX * 9 + sc)) 1 else 0) +
              (if (leftNz(sr)) 1 else 0)
            val nz = decodeBlock(td, hdr.coefProbs(yPlaneType), ctx,
              yFirst, q(0), q(1), yCoef(i))
            aboveNz(mbX * 9 + sc) = nz; leftNz(sr) = nz
            any |= nz
            i += 1
          }
          // chroma: decoded to advance the stream; recon skipped
          i = 0
          while (i < 8) {
            val sr = (i >> 1) & 1; val sc = i & 1
            val off = 4 + (if (i < 4) 0 else 2)
            val ctx = (if (aboveNz(mbX * 9 + off + sc)) 1 else 0) +
              (if (leftNz(off + sr)) 1 else 0)
            val nz = decodeBlock(td, hdr.coefProbs(2), ctx, 0,
              q(4), q(5), uvCoef(i))
            aboveNz(mbX * 9 + off + sc) = nz; leftNz(off + sr) = nz
            any |= nz
            i += 1
          }
          mi.hasCoeffs = any
        }

        // reconstruction (luma)
        if (hasY2) {
          iwalsh(y2Coef, block)
          i = 0
          while (i < 16) { yCoef(i)(0) = block(i); i += 1 }
          predict16(yPlane, planeW, mbX, mbY, mi.ymode)
          i = 0
          while (i < 16) {
            addResidual(yPlane, planeW, mbX * 16 + (i & 3) * 4,
              mbY * 16 + (i >> 2) * 4, yCoef(i), block)
            i += 1
          }
        } else {
          i = 0
          while (i < 16) {
            val px = mbX * 16 + (i & 3) * 4
            val py = mbY * 16 + (i >> 2) * 4
            predictB(yPlane, planeW, planeH, px, py, mi.submodes(i),
              mbX, mbCols)
            addResidual(yPlane, planeW, px, py, yCoef(i), block)
            i += 1
          }
        }
        mbX += 1
      }
      mbY += 1
    }
    pi = 0
    while (pi < nParts) {
      if (parts(pi).overran) return None
      pi += 1
    }

    if (hdr.filterLevel > 0 || hdr.segEnabled || hdr.lfAdjEnabled)
      Vp8LoopFilter.filterLuma(yPlane, planeW, mbRows, mbCols, hdr, mbs)

    // crop to coded dims
    val out = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      System.arraycopy(yPlane, y * planeW, out, y * width, width)
      y += 1
    }
    Some(Gray(width, height, out))
  }

  private def readHeader(d: BoolDecoder, width: Int,
      height: Int): Header = {
    val segQuant = new Array[Int](4)
    val segLf = new Array[Int](4)
    val segTreeProbs = Array(255, 255, 255)
    var segUpdateMap = false
    var segAbs = false
    val segEnabled = d.bit() == 1
    if (segEnabled) {
      segUpdateMap = d.bit() == 1
      val updateData = d.bit() == 1
      if (updateData) {
        segAbs = d.bit() == 1
        var i = 0
        while (i < 4) { segQuant(i) = d.signedUpdate(7); i += 1 }
        i = 0
        while (i < 4) { segLf(i) = d.signedUpdate(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          if (d.bit() == 1) segTreeProbs(i) = d.literal(8)
          i += 1
        }
      }
    }
    val simpleFilter = d.bit() == 1
    val filterLevel = d.literal(6)
    val sharpness = d.literal(3)
    val refLfDeltas = new Array[Int](4)
    val modeLfDeltas = new Array[Int](4)
    val lfAdjEnabled = d.bit() == 1
    if (lfAdjEnabled && d.bit() == 1) {
      var i = 0
      while (i < 4) { refLfDeltas(i) = d.signedUpdate(6); i += 1 }
      i = 0
      while (i < 4) { modeLfDeltas(i) = d.signedUpdate(6); i += 1 }
    }
    val nParts = 1 << d.literal(2)
    val qIndex = d.literal(7)
    val yDcDelta = d.signedUpdate(4)
    val y2DcDelta = d.signedUpdate(4)
    val y2AcDelta = d.signedUpdate(4)
    val uvDcDelta = d.signedUpdate(4)
    val uvAcDelta = d.signedUpdate(4)
    d.bit()                                // refresh_entropy_probs
    val coefProbs = Array.tabulate(4, 8, 3) { (i, j, k) =>
      DefaultCoefProbs(i)(j)(k).clone()
    }
    var i = 0
    while (i < 4) {
      var j = 0
      while (j < 8) {
        var k = 0
        while (k < 3) {
          var l = 0
          while (l < 11) {
            if (d.bool(CoefUpdateProbs(i)(j)(k)(l)) == 1)
              coefProbs(i)(j)(k)(l) = d.literal(8)
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    val mbNoSkip = d.bit() == 1
    val probSkip = if (mbNoSkip) d.literal(8) else 0
    new Header(width, height, segEnabled, segUpdateMap, segAbs,
      segQuant, segLf, segTreeProbs, simpleFilter, filterLevel,
      sharpness, lfAdjEnabled, refLfDeltas, modeLfDeltas, qIndex,
      yDcDelta, y2DcDelta, y2AcDelta, uvDcDelta, uvAcDelta, coefProbs,
      mbNoSkip, probSkip, nParts)
  }

  /** One 4×4 block's token run (§13.2–13.3): returns whether any
    * nonzero coefficient landed. Writes DEQUANTIZED values in natural
    * order. */
  private def decodeBlock(d: BoolDecoder,
      probs: Array[Array[Array[Int]]], ctx0: Int, first: Int,
      dqDc: Int, dqAc: Int, out: Array[Int]): Boolean = {
    var c = first
    var ctx = ctx0
    var prevZero = false
    var any = false
    while (c < 16) {
      val p = probs(CoefBands(c))(ctx)
      val tok = d.tree(CoefTree, p, start = if (prevZero) 2 else 0)
      if (tok == TokEob) return any
      if (tok == TokZero) {
        prevZero = true
        ctx = 0
        c += 1
      } else {
        val mag =
          if (tok <= TokFour) tok
          else {
            val cat = tok - TokCat1
            var extra = 0
            val cp = CatProbs(cat)
            var i = 0
            while (i < cp.length) {
              extra = (extra << 1) | d.bool(cp(i))
              i += 1
            }
            CatBase(cat) + extra
          }
        val v = if (d.bit() == 1) -mag else mag
        out(Zigzag(c)) = v * (if (c == 0) dqDc else dqAc)
        ctx = if (mag == 1) 1 else 2
        prevZero = false
        any = true
        c += 1
      }
    }
    any
  }

  // ---- transforms (§14.3) ----

  private val C1 = 20091L                  // cos(π/8)·√2 − 1, Q16
  private val C2 = 35468L                  // sin(π/8)·√2, Q16

  /** Exact integer 4×4 inverse DCT; `c` natural order, result into
    * `out` (row-major), final (x+4)>>3. */
  private[graft] def idct4x4(c: Array[Int], out: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val i0 = c(i); val i4 = c(4 + i); val i8 = c(8 + i)
      val i12 = c(12 + i)
      val a1 = i0 + i8
      val b1 = i0 - i8
      val c1 = ((i4 * C2) >> 16).toInt - (i12 + ((i12 * C1) >> 16).toInt)
      val d1 = (i4 + ((i4 * C1) >> 16).toInt) + ((i12 * C2) >> 16).toInt
      t(i) = a1 + d1
      t(12 + i) = a1 - d1
      t(4 + i) = b1 + c1
      t(8 + i) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = 4 * i
      val i0 = t(r); val i1 = t(r + 1); val i2 = t(r + 2); val i3 = t(r + 3)
      val a1 = i0 + i2
      val b1 = i0 - i2
      val c1 = ((i1 * C2) >> 16).toInt - (i3 + ((i3 * C1) >> 16).toInt)
      val d1 = (i1 + ((i1 * C1) >> 16).toInt) + ((i3 * C2) >> 16).toInt
      out(r) = (a1 + d1 + 4) >> 3
      out(r + 3) = (a1 - d1 + 4) >> 3
      out(r + 1) = (b1 + c1 + 4) >> 3
      out(r + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
  }

  /** Exact integer inverse Walsh–Hadamard (Y2 → 16 luma DCs). */
  private[graft] def iwalsh(c: Array[Int], out: Array[Int]): Unit = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val a1 = c(i) + c(12 + i)
      val b1 = c(4 + i) + c(8 + i)
      val c1 = c(4 + i) - c(8 + i)
      val d1 = c(i) - c(12 + i)
      t(i) = a1 + b1
      t(4 + i) = c1 + d1
      t(8 + i) = a1 - b1
      t(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) {
      val r = 4 * i
      val a1 = t(r) + t(r + 3)
      val b1 = t(r + 1) + t(r + 2)
      val c1 = t(r + 1) - t(r + 2)
      val d1 = t(r) - t(r + 3)
      out(r) = (a1 + b1 + 3) >> 3
      out(r + 1) = (c1 + d1 + 3) >> 3
      out(r + 2) = (a1 - b1 + 3) >> 3
      out(r + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
  }

  private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** IDCT the block's coefficients and add to the prediction already
    * in the plane at (px, py). DC-only blocks short-circuit to the
    * exact (DC+4)>>3 constant. */
  private def addResidual(plane: Array[Int], stride: Int, px: Int,
      py: Int, coef: Array[Int], scratch: Array[Int]): Unit = {
    var dcOnly = true
    var i = 1
    while (i < 16 && dcOnly) { dcOnly = coef(i) == 0; i += 1 }
    if (dcOnly) {
      if (coef(0) == 0) return
      val r = (coef(0) + 4) >> 3
      var y = 0
      while (y < 4) {
        val base = (py + y) * stride + px
        var x = 0
        while (x < 4) {
          plane(base + x) = clip255(plane(base + x) + r)
          x += 1
        }
        y += 1
      }
    } else {
      idct4x4(coef, scratch)
      var y = 0
      while (y < 4) {
        val base = (py + y) * stride + px
        var x = 0
        while (x < 4) {
          plane(base + x) = clip255(plane(base + x) + scratch(y * 4 + x))
          x += 1
        }
        y += 1
      }
    }
  }

  // ---- intra prediction (§12) ----
  // Virtual borders: above the frame = 127 (including above-right),
  // left of the frame = 129; the above-left corner follows the fill
  // that owns it (127 on the top row, 129 on the left column).

  private[multimodal] def aboveAt(p: Array[Int], stride: Int, x: Int,
      y: Int): Int =
    if (y == 0) 127 else p((y - 1) * stride + x)

  private[multimodal] def leftAt(p: Array[Int], stride: Int, x: Int,
      y: Int): Int =
    if (x == 0) 129 else p(y * stride + x - 1)

  private def cornerAt(p: Array[Int], stride: Int, x: Int, y: Int): Int =
    if (y == 0) 127
    else if (x == 0) 129
    else p((y - 1) * stride + x - 1)

  /** The 16×16 DC_PRED value (exposed so [[Vp8Encoder]] predicts by
    * the identical law). */
  private[multimodal] def dc16Value(p: Array[Int], stride: Int,
      mbX: Int, mbY: Int): Int = {
    val x0 = mbX * 16
    val y0 = mbY * 16
    var sum = 0
    var n = 0
    if (mbY > 0) {
      var i = 0
      while (i < 16) { sum += p((y0 - 1) * stride + x0 + i); i += 1 }
      n += 16
    }
    if (mbX > 0) {
      var i = 0
      while (i < 16) { sum += p((y0 + i) * stride + x0 - 1); i += 1 }
      n += 16
    }
    if (n == 32) (sum + 16) >> 5
    else if (n == 16) (sum + 8) >> 4
    else 128
  }

  /** The B_DC_PRED value for the 4×4 subblock at (px, py). */
  private[multimodal] def bDcValue(p: Array[Int], stride: Int,
      px: Int, py: Int): Int = {
    var sum = 4
    var i = 0
    while (i < 4) {
      sum += aboveAt(p, stride, px + i, py) + leftAt(p, stride, px, py + i)
      i += 1
    }
    sum >> 3
  }

  /** 16×16 luma prediction written into the plane. */
  private def predict16(p: Array[Int], stride: Int, mbX: Int, mbY: Int,
      mode: Int): Unit = {
    val x0 = mbX * 16
    val y0 = mbY * 16
    mode match {
      case DcPred =>
        val v = dc16Value(p, stride, mbX, mbY)
        var y = 0
        while (y < 16) {
          java.util.Arrays.fill(p, (y0 + y) * stride + x0,
            (y0 + y) * stride + x0 + 16, v)
          y += 1
        }
      case VPred =>
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            p((y0 + y) * stride + x0 + x) = aboveAt(p, stride, x0 + x, y0)
            x += 1
          }
          y += 1
        }
      case HPred =>
        var y = 0
        while (y < 16) {
          val l = leftAt(p, stride, x0, y0 + y)
          java.util.Arrays.fill(p, (y0 + y) * stride + x0,
            (y0 + y) * stride + x0 + 16, l)
          y += 1
        }
      case _ =>                            // TM_PRED
        val tl = cornerAt(p, stride, x0, y0)
        var y = 0
        while (y < 16) {
          val l = leftAt(p, stride, x0, y0 + y)
          var x = 0
          while (x < 16) {
            p((y0 + y) * stride + x0 + x) =
              clip255(l + aboveAt(p, stride, x0 + x, y0) - tl)
            x += 1
          }
          y += 1
        }
    }
  }

  private def avg2(a: Int, b: Int): Int = (a + b + 1) >> 1
  private def avg3(a: Int, b: Int, c: Int): Int = (a + 2 * b + c + 2) >> 2

  /** 4×4 subblock prediction (§12.3) written into the plane at
    * (px, py). Above-right quirk: right-column subblocks use the 4
    * pixels above-right of the MACROBLOCK (row 16·mbY − 1) even for
    * subblock rows 1–3 (the spec's stale above-right); beyond the
    * frame's right edge the rightmost above pixel is replicated. */
  private def predictB(p: Array[Int], stride: Int, planeH: Int,
      px: Int, py: Int, mode: Int, mbX: Int, mbCols: Int): Unit = {
    val o = predictBValues(p, stride, px, py, mode, mbX)
    var r = 0
    while (r < 4) {
      var c = 0
      while (c < 4) {
        p((py + r) * stride + px + c) = o(r * 4 + c)
        c += 1
      }
      r += 1
    }
  }

  /** The 16 predicted values of one 4×4 subblock — exposed so
    * [[Vp8Encoder]] can sniff exact-match submodes by the identical
    * law. */
  def predictBValues(p: Array[Int], stride: Int,
      px: Int, py: Int, mode: Int, mbX: Int): Array[Int] = {
    val a = new Array[Int](8)
    val l = new Array[Int](4)
    var i = 0
    while (i < 4) {
      a(i) = aboveAt(p, stride, px + i, py)
      l(i) = leftAt(p, stride, px, py + i)
      i += 1
    }
    val sc = (px >> 2) & 3
    if (sc == 3) {
      // stale above-right: the MB's own above row
      val mbTop = (py >> 4) << 4
      i = 0
      while (i < 4) {
        val x = (mbX << 4) + 16 + i
        a(4 + i) =
          if (mbTop == 0) 127
          else if (x >= stride) p((mbTop - 1) * stride + stride - 1)
          else p((mbTop - 1) * stride + x)
        i += 1
      }
    } else {
      i = 0
      while (i < 4) {
        a(4 + i) = aboveAt(p, stride, px + 4 + i, py)
        i += 1
      }
    }
    val tl = cornerAt(p, stride, px, py)
    val o = new Array[Int](16)
    mode match {
      case BDcPred =>
        java.util.Arrays.fill(o, bDcValue(p, stride, px, py))
      case BTmPred =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) { o(r * 4 + c) = clip255(l(r) + a(c) - tl); c += 1 }
          r += 1
        }
      case BVePred =>
        var c = 0
        while (c < 4) {
          val v = avg3(if (c == 0) tl else a(c - 1), a(c), a(c + 1))
          o(c) = v; o(4 + c) = v; o(8 + c) = v; o(12 + c) = v
          c += 1
        }
      case BHePred =>
        var r = 0
        while (r < 4) {
          val v = avg3(if (r == 0) tl else l(r - 1), l(r),
            if (r == 3) l(3) else l(r + 1))
          o(r * 4) = v; o(r * 4 + 1) = v; o(r * 4 + 2) = v
          o(r * 4 + 3) = v
          r += 1
        }
      case BLdPred =>
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val i0 = r + c
            o(r * 4 + c) =
              if (i0 < 6) avg3(a(i0), a(i0 + 1), a(i0 + 2))
              else avg3(a(6), a(7), a(7))
            c += 1
          }
          r += 1
        }
      case BRdPred =>
        val e = Array(l(3), l(2), l(1), l(0), tl, a(0), a(1), a(2), a(3))
        var r = 0
        while (r < 4) {
          var c = 0
          while (c < 4) {
            val d = 4 + c - r
            o(r * 4 + c) = avg3(e(d - 1), e(d), e(d + 1))
            c += 1
          }
          r += 1
        }
      case BVrPred =>
        val e = Array(l(3), l(2), l(1), l(0), tl, a(0), a(1), a(2), a(3))
        o(12) = avg3(e(1), e(2), e(3))
        o(8) = avg3(e(2), e(3), e(4))
        o(13) = avg3(e(3), e(4), e(5)); o(4) = o(13)
        o(9) = avg2(e(4), e(5)); o(0) = o(9)
        o(14) = avg3(e(4), e(5), e(6)); o(5) = o(14)
        o(10) = avg2(e(5), e(6)); o(1) = o(10)
        o(15) = avg3(e(5), e(6), e(7)); o(6) = o(15)
        o(11) = avg2(e(6), e(7)); o(2) = o(11)
        o(7) = avg3(e(6), e(7), e(8))
        o(3) = avg2(e(7), e(8))
      case BVlPred =>
        o(0) = avg2(a(0), a(1))
        o(4) = avg3(a(0), a(1), a(2))
        o(8) = avg2(a(1), a(2)); o(1) = o(8)
        o(5) = avg3(a(1), a(2), a(3)); o(12) = o(5)
        o(9) = avg2(a(2), a(3)); o(2) = o(9)
        o(13) = avg3(a(2), a(3), a(4)); o(6) = o(13)
        o(10) = avg2(a(3), a(4)); o(3) = o(10)
        o(14) = avg3(a(3), a(4), a(5)); o(7) = o(14)
        o(11) = avg3(a(4), a(5), a(6))
        o(15) = avg3(a(5), a(6), a(7))
      case BHdPred =>
        val e = Array(l(3), l(2), l(1), l(0), tl, a(0), a(1), a(2), a(3))
        o(12) = avg2(e(0), e(1))
        o(13) = avg3(e(0), e(1), e(2))
        o(8) = avg2(e(1), e(2)); o(14) = o(8)
        o(9) = avg3(e(1), e(2), e(3)); o(15) = o(9)
        o(10) = avg2(e(2), e(3)); o(4) = o(10)
        o(11) = avg3(e(2), e(3), e(4)); o(5) = o(11)
        o(6) = avg2(e(3), e(4)); o(0) = o(6)
        o(7) = avg3(e(3), e(4), e(5)); o(1) = o(7)
        o(2) = avg3(e(4), e(5), e(6))
        o(3) = avg3(e(5), e(6), e(7))
      case BHuPred =>
        o(0) = avg2(l(0), l(1))
        o(1) = avg3(l(0), l(1), l(2))
        o(2) = avg2(l(1), l(2)); o(4) = o(2)
        o(3) = avg3(l(1), l(2), l(3)); o(5) = o(3)
        o(6) = avg2(l(2), l(3)); o(8) = o(6)
        o(7) = avg3(l(2), l(3), l(3)); o(9) = o(7)
        o(10) = l(3); o(11) = l(3); o(12) = l(3); o(13) = l(3)
        o(14) = l(3); o(15) = l(3)
      case _ => fail("bmode")
    }
    o
  }

  // ---- loop-filter access helpers ----

  /** Per-MB filter level after segment + delta adjustment (§15.1,
    * key frames: the intra ref-frame delta, B_PRED mode delta). */
  private[multimodal] def mbFilterLevel(hdr: Header, segId: Int,
      isBPred: Boolean): Int = {
    var lvl =
      if (!hdr.segEnabled) hdr.filterLevel
      else if (hdr.segAbs) hdr.segLf(segId)
      else hdr.filterLevel + hdr.segLf(segId)
    if (hdr.lfAdjEnabled) {
      lvl += hdr.refLfDeltas(0)
      if (isBPred) lvl += hdr.modeLfDeltas(0)
    }
    if (lvl < 0) 0 else if (lvl > 63) 63 else lvl
  }
}
