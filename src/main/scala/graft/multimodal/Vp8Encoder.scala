package graft.multimodal

/** Spec-valid lossy-WebP (VP8 key frame) fixture encoder — the lossy
  * analog of [[WebpEncoder]]: emits a REAL arithmetic-coded,
  * transform-coded RFC 6386 key frame whose reconstruction is
  * BIT-EXACT on the planted scenes, so lossy-WebP variants join the
  * md5-arithmetic perceptual oracles (the same planted-exactness
  * argument as the JPEG tier, carried to VP8's integer transforms):
  *
  *   - the encoder SNIFFS every intra predictor for an exact match
  *     (zero residual): fully uniform macroblocks ride 16×16 DC_PRED
  *     + the Y2 Walsh–Hadamard path (the single Y2 DC token
  *     dequantizes to 64r; the inverse WHT's (x+3)>>3 lands 8r in
  *     every subblock DC and the IDCT finishes the exact r); MBs
  *     equal to their V/H/TM prediction ride those 16×16 modes with
  *     empty blocks; every other MB is B_PRED, whose subblocks try
  *     the nine non-DC submodes for an exact match before falling
  *     back to B_DC_PRED — so ALL 14 prediction laws (and the
  *     kf_bmode context tree over varied neighbor modes) are
  *     round-trip-provable;
  *   - the B_DC fallback requires constant subblocks (the 8×8-tile
  *     scene grid guarantees this): the constant residual r rides a
  *     single DC token 8r/y1dc, and the decoder's IDCT of a DC-only
  *     block is exactly (8r+4)>>3 = r for either sign;
  *   - chroma is flat 128 (residual 0 everywhere), loop filter level
  *     0, so reconstruction is untouched post-transform.
  *
  * Quantizer indices are restricted to the exactness-preserving set
  * {0, 4} (luma DC steps 4 and 8 — the divisors of the IDCT's 8·r
  * domain); `nParts` exercises the multi-partition token layout and
  * `skipFlags` the mb_no_coeff_skip machinery with its context-reset
  * rule. Encoder and decoder share every probability table and
  * prediction law, so round-trip tests pin the machinery end to end.
  */
object Vp8Encoder {
  import PixelCodec.Gray
  import Vp8Entropy.BoolEncoder
  import Vp8Tables._

  /** Encode to a complete WebP (RIFF + `VP8 ` chunk) container.
    * `filterLevel` 0 keeps the exactness guarantee; nonzero levels
    * exercise the normal/simple deblocking paths (lossy like any real
    * encoder — only flat content survives filtering unchanged).
    * `segmented` enables 4-segment absolute-mode quantization cycling
    * the two exactness-preserving indices (per-MB map coded with the
    * segment tree) and `probUpdates` writes coefficient-probability
    * updates in the header — both stay bit-exact, so the decoder's
    * segmentation and prob-update paths are provable end to end. */
  def encodeWebpLossy(g: Gray, qi: Int = 0, nParts: Int = 1,
      skipFlags: Boolean = false, filterLevel: Int = 0,
      simpleFilter: Boolean = false, sharpness: Int = 0,
      segmented: Boolean = false,
      probUpdates: Seq[(Int, Int, Int, Int, Int)] = Nil): Array[Byte] = {
    val payload = encodeVp8Frame(g, qi, nParts, skipFlags, filterLevel,
      simpleFilter, sharpness, segmented, probUpdates)
    Bytes.riffChunk("RIFF",
      "WEBP".getBytes("US-ASCII") ++ Bytes.riffChunk("VP8 ", payload))
  }

  /** The raw VP8 key-frame payload. */
  private def encodeVp8Frame(g: Gray, qi: Int, nParts: Int,
      skipFlags: Boolean, filterLevel: Int = 0,
      simpleFilter: Boolean = false, sharpness: Int = 0,
      segmented: Boolean = false,
      probUpdates: Seq[(Int, Int, Int, Int, Int)] = Nil): Array[Byte] = {
    require(qi == 0 || qi == 4, "exactness-preserving quantizers only")
    require(nParts == 1 || nParts == 2 || nParts == 4 || nParts == 8)
    val w = g.width; val h = g.height
    val mbCols = (w + 15) >> 4
    val mbRows = (h + 15) >> 4
    val stride = mbCols * 16
    // absolute per-segment quantizer indices, all exactness-preserving
    val segQi = Array(qi, 4 - qi, qi, 4 - qi)
    val segTreeProbs = Array(128, 128, 128)
    def segOf(mbX: Int, mbY: Int): Int =
      if (segmented) (mbX + mbY) & 3 else 0
    // pad to the MB grid by edge replication; recon == scene exactly,
    // so this plane doubles as the decoder-state neighbor source
    val plane = new Array[Int](stride * mbRows * 16)
    var y = 0
    while (y < mbRows * 16) {
      val sy = math.min(y, h - 1)
      var x = 0
      while (x < stride) {
        plane(y * stride + x) = g.luma(sy * w + math.min(x, w - 1))
        x += 1
      }
      y += 1
    }
    val dq = Array.tabulate(4)(s =>
      dequantFactors(if (segmented) segQi(s) else qi, 0, 0, 0, 0, 0))
    // the frame's coefficient probabilities: defaults + any header
    // updates (token coding below MUST use the same values)
    val probs = Array.tabulate(4, 8, 3) { (i, j, k) =>
      DefaultCoefProbs(i)(j)(k).clone()
    }
    probUpdates.foreach { case (i, j, k, l, v) =>
      require(v >= 1 && v <= 255, "prob out of range")
      probs(i)(j)(k)(l) = v
    }

    // ---- per-MB analysis: MODE SNIFFING + residual DC tokens ----
    // Every intra predictor is usable when it matches the content
    // EXACTLY (zero residual — the encoder stays bit-exact by
    // construction): uniform MBs ride 16×16 DC_PRED + Y2; MBs equal
    // to their V/H/TM prediction ride those 16×16 modes with empty
    // blocks; everything else is B_PRED, where each subblock sniffs
    // the nine non-DC submodes for an exact match before falling back
    // to B_DC_PRED with its constant-residual DC token. This makes
    // all 14 prediction laws (and the kf_bmode context tree across
    // varied neighbor modes) round-trip-provable, not just B_DC.
    val nMbs = mbRows * mbCols
    val mbMode = new Array[Int](nMbs)        // DC/V/H/TM/B_PRED
    val subModes = Array.ofDim[Int](nMbs, 16)
    val tokY2 = new Array[Int](nMbs)
    val tokY = Array.ofDim[Int](nMbs, 16)
    val mbSkip = new Array[Boolean](nMbs)
    def useY2(mb: Int): Boolean = mbMode(mb) != BPred

    def matches16(mbX: Int, mbY: Int, mode: Int): Boolean = {
      val x0 = mbX * 16; val y0 = mbY * 16
      val tl = if (mbY == 0) 127
        else if (mbX == 0) 129
        else plane((y0 - 1) * stride + x0 - 1)
      var y = 0
      while (y < 16) {
        val l = Vp8Codec.leftAt(plane, stride, x0, y0 + y)
        var x = 0
        while (x < 16) {
          val a = Vp8Codec.aboveAt(plane, stride, x0 + x, y0)
          val pred = mode match {
            case VPred => a
            case HPred => l
            case _ =>                         // TM
              val v = l + a - tl
              if (v < 0) 0 else if (v > 255) 255 else v
          }
          if (plane((y0 + y) * stride + x0 + x) != pred) return false
          x += 1
        }
        y += 1
      }
      true
    }

    var mb = 0
    var mbY = 0
    while (mbY < mbRows) {
      var mbX = 0
      while (mbX < mbCols) {
        val q = dq(segOf(mbX, mbY))
        val x0 = mbX * 16; val y0 = mbY * 16
        val v0 = plane(y0 * stride + x0)
        var uniform = true
        var i = 0
        while (uniform && i < 256) {
          uniform = plane((y0 + i / 16) * stride + x0 + i % 16) == v0
          i += 1
        }
        if (uniform) {
          mbMode(mb) = DcPred
          val r = v0 - Vp8Codec.dc16Value(plane, stride, mbX, mbY)
          tokY2(mb) = 64 * r / q(2)          // q(2) = y2dc ∈ {8, 16}
          mbSkip(mb) = r == 0
        } else if (matches16(mbX, mbY, VPred)) {
          mbMode(mb) = VPred; mbSkip(mb) = true
        } else if (matches16(mbX, mbY, HPred)) {
          mbMode(mb) = HPred; mbSkip(mb) = true
        } else if (matches16(mbX, mbY, TmPred)) {
          mbMode(mb) = TmPred; mbSkip(mb) = true
        } else {
          mbMode(mb) = BPred
          var allZero = true
          i = 0
          while (i < 16) {
            val px = x0 + (i & 3) * 4
            val py = y0 + (i >> 2) * 4
            // sniff the nine non-DC submodes for an exact match
            var chosen = -1
            var m = BTmPred
            while (chosen < 0 && m <= BHuPred) {
              val pred = Vp8Codec.predictBValues(plane, stride, px, py,
                m, mbX)
              var ok = true
              var r2 = 0
              while (ok && r2 < 4) {
                var c2 = 0
                while (ok && c2 < 4) {
                  ok = plane((py + r2) * stride + px + c2) ==
                    pred(r2 * 4 + c2)
                  c2 += 1
                }
                r2 += 1
              }
              if (ok) chosen = m
              m += 1
            }
            if (chosen >= 0) {
              subModes(mb)(i) = chosen       // zero residual
            } else {
              // B_DC needs a CONSTANT residual, i.e. constant content
              var const = true
              var j2 = 1
              while (const && j2 < 16) {
                const = plane((py + j2 / 4) * stride + px + j2 % 4) ==
                  plane(py * stride + px)
                j2 += 1
              }
              require(const, "subblock not exactly encodable")
              subModes(mb)(i) = BDcPred
              val r = plane(py * stride + px) -
                Vp8Codec.bDcValue(plane, stride, px, py)
              tokY(mb)(i) = 8 * r / q(0)     // q(0) = y1dc ∈ {4, 8}
              allZero &= r == 0
            }
            i += 1
          }
          mbSkip(mb) = allZero && tokY(mb).forall(_ == 0)
        }
        if (!skipFlags) mbSkip(mb) = false
        mb += 1
        mbX += 1
      }
      mbY += 1
    }

    // ---- first partition: header + modes ----
    val d1 = new BoolEncoder
    d1.bit(0); d1.bit(0)                     // color space, clamping
    if (segmented) {
      d1.bit(1)                              // segmentation enabled
      d1.bit(1)                              // update the map
      d1.bit(1)                              // update feature data
      d1.bit(1)                              // absolute values
      var s = 0
      while (s < 4) { d1.signedUpdate(7, segQi(s)); s += 1 }
      s = 0
      while (s < 4) { d1.signedUpdate(6, 0); s += 1 }
      s = 0
      while (s < 3) {                        // segment tree probs
        d1.bit(1); d1.literal(8, segTreeProbs(s)); s += 1
      }
    } else d1.bit(0)
    d1.bit(if (simpleFilter) 1 else 0)
    d1.literal(6, filterLevel)               // 0 = exact fixtures
    d1.literal(3, sharpness)
    d1.bit(0)                                // no lf adjustments
    d1.literal(2, Integer.numberOfTrailingZeros(nParts))
    d1.literal(7, qi)
    var i = 0
    while (i < 5) { d1.bit(0); i += 1 }      // five quantizer deltas: 0
    d1.bit(1)                                // refresh entropy probs
    i = 0
    while (i < 4) {                          // coefficient prob walk
      var j = 0
      while (j < 8) {
        var k = 0
        while (k < 3) {
          var l = 0
          while (l < 11) {
            if (probs(i)(j)(k)(l) != DefaultCoefProbs(i)(j)(k)(l)) {
              d1.bool(CoefUpdateProbs(i)(j)(k)(l), 1)
              d1.literal(8, probs(i)(j)(k)(l))
            } else d1.bool(CoefUpdateProbs(i)(j)(k)(l), 0)
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    val probSkip = 170
    d1.bit(if (skipFlags) 1 else 0)          // mb_no_coeff_skip
    if (skipFlags) d1.literal(8, probSkip)

    // modes (B-mode contexts mirror the decoder's pass 1: actual
    // submodes, with 16×16 modes presenting their fixed equivalents)
    val aboveB = Array.fill(mbCols * 4)(BDcPred)
    mb = 0
    mbY = 0
    while (mbY < mbRows) {
      val leftB = Array.fill(4)(BDcPred)
      var mbX = 0
      while (mbX < mbCols) {
        if (segmented)
          d1.tree(SegmentTree, segTreeProbs, segOf(mbX, mbY))
        if (skipFlags) d1.bool(probSkip, if (mbSkip(mb)) 1 else 0)
        val eq = mbMode(mb) match {
          case DcPred => BDcPred
          case VPred => BVePred
          case HPred => BHePred
          case _ => BTmPred
        }
        if (mbMode(mb) != BPred) {
          d1.tree(KfYmodeTree, KfYmodeProb, mbMode(mb))
          java.util.Arrays.fill(subModes(mb), eq)
        } else {
          d1.tree(KfYmodeTree, KfYmodeProb, BPred)
          i = 0
          while (i < 16) {
            val sr = i >> 2; val sc = i & 3
            val above =
              if (sr == 0) aboveB(mbX * 4 + sc)
              else subModes(mb)(i - 4)
            val left =
              if (sc == 0) leftB(sr)
              else subModes(mb)(i - 1)
            d1.tree(BmodeTree, KfBmodeProb(above)(left),
              subModes(mb)(i))
            i += 1
          }
        }
        var c = 0
        while (c < 4) {
          aboveB(mbX * 4 + c) = subModes(mb)(12 + c)
          leftB(c) = subModes(mb)(c * 4 + 3)
          c += 1
        }
        d1.tree(UvModeTree, KfUvModeProb, DcPred)
        mb += 1
        mbX += 1
      }
      mbY += 1
    }
    val part1 = d1.finish()

    // ---- token partitions ----
    val parts = Array.fill(nParts)(new BoolEncoder)
    val aboveNz = Array.fill(mbCols * 9)(false)
    mbY = 0
    while (mbY < mbRows) {
      val te = parts(mbY % nParts)
      val leftNz = Array.fill(9)(false)
      var mbX = 0
      while (mbX < mbCols) {
        mb = mbY * mbCols + mbX
        if (mbSkip(mb)) {
          var k = 0
          while (k < 8) {
            aboveNz(mbX * 9 + k) = false; leftNz(k) = false; k += 1
          }
          if (useY2(mb)) { aboveNz(mbX * 9 + 8) = false; leftNz(8) = false }
        } else {
          if (useY2(mb)) {
            val ctx = (if (aboveNz(mbX * 9 + 8)) 1 else 0) +
              (if (leftNz(8)) 1 else 0)
            val nz = encodeDcBlock(te, probs(1), ctx, 0, tokY2(mb))
            aboveNz(mbX * 9 + 8) = nz; leftNz(8) = nz
          }
          val plType = if (useY2(mb)) 0 else 3
          val first = if (useY2(mb)) 1 else 0
          i = 0
          while (i < 16) {
            val sr = i >> 2; val sc = i & 3
            val ctx = (if (aboveNz(mbX * 9 + sc)) 1 else 0) +
              (if (leftNz(sr)) 1 else 0)
            val tok = if (useY2(mb)) 0 else tokY(mb)(i)
            val nz = encodeDcBlock(te, probs(plType), ctx, first, tok)
            aboveNz(mbX * 9 + sc) = nz; leftNz(sr) = nz
            i += 1
          }
          i = 0
          while (i < 8) {                    // chroma: all empty
            val sr = (i >> 1) & 1; val sc = i & 1
            val off = 4 + (if (i < 4) 0 else 2)
            val ctx = (if (aboveNz(mbX * 9 + off + sc)) 1 else 0) +
              (if (leftNz(off + sr)) 1 else 0)
            val nz = encodeDcBlock(te, probs(2), ctx, 0, 0)
            aboveNz(mbX * 9 + off + sc) = nz; leftNz(off + sr) = nz
            i += 1
          }
        }
        mbX += 1
      }
      mbY += 1
    }
    val partBytes = parts.map(_.finish())

    // ---- assembly ----
    val firstPartSize = part1.length
    val out = new java.io.ByteArrayOutputStream()
    val tag = (0 /* keyframe */) | (0 << 1) | (1 << 4) |
      (firstPartSize << 5)
    out.write(tag & 0xff); out.write((tag >> 8) & 0xff)
    out.write((tag >> 16) & 0xff)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    out.write(w & 0xff); out.write((w >> 8) & 0x3f)
    out.write(h & 0xff); out.write((h >> 8) & 0x3f)
    out.write(part1)
    var p = 0
    while (p < nParts - 1) {
      val sz = partBytes(p).length
      out.write(sz & 0xff); out.write((sz >> 8) & 0xff)
      out.write((sz >> 16) & 0xff)
      p += 1
    }
    partBytes.foreach(out.write)
    out.toByteArray
  }

  /** Emit one block holding a single DC token (or nothing): the DC
    * magnitude/sign at position `first`, then EOB. Returns the
    * nonzero flag the context model tracks. */
  private def encodeDcBlock(e: BoolEncoder,
      probs: Array[Array[Array[Int]]], ctx0: Int, first: Int,
      dcToken: Int): Boolean = {
    if (dcToken == 0) {
      e.tree(CoefTree, probs(CoefBands(first))(ctx0), TokEob)
      false
    } else {
      val mag = math.abs(dcToken)
      val p0 = probs(CoefBands(first))(ctx0)
      if (mag <= 4) e.tree(CoefTree, p0, mag)
      else {
        // the category whose range contains mag
        var cat = 0
        while (cat < 5 && mag >= CatBase(cat + 1)) cat += 1
        e.tree(CoefTree, p0, TokCat1 + cat)
        val extra = mag - CatBase(cat)
        val cp = CatProbs(cat)
        var i = cp.length - 1
        var k = 0
        while (i >= 0) {
          e.bool(cp(k), (extra >> i) & 1)
          i -= 1; k += 1
        }
      }
      e.bit(if (dcToken < 0) 1 else 0)
      // next position: EOB with the post-DC context
      val ctx1 = if (mag == 1) 1 else 2
      e.tree(CoefTree, probs(CoefBands(first + 1))(ctx1), TokEob)
      true
    }
  }
}
