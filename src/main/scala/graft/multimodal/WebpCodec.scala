package graft.multimodal

/** WebP decode for the perceptual-hash tier — the dominant modern web
  * image format next to JPEG/PNG, BOTH flavors: the RIFF container
  * walk dispatches `VP8L` (lossless) chunks to the full RFC 9649
  * bitstream here — LSB-first bit reading, canonical prefix codes
  * (simple and code-length-coded), color cache, meta prefix groups
  * via an entropy image, LZ77 backward references with the 120-entry
  * 2D distance map, and all four transforms (predictor with its 14
  * modes, cross-color, subtract-green, color indexing with sub-byte
  * pixel bundling), applied inverse in reverse read order — and
  * `VP8 ` (lossy key frame) chunks to the RFC 6386 still decoder in
  * [[Vp8Codec]]. Color collapses to luma through the same BT.601
  * weights as every other format ([[PixelCodec.lum]]), so a
  * lossless-WebP re-render of a PNG scene lands the identical pixels
  * and joins the md5-arithmetic oracles as a cross-format copy.
  *
  * Hostile-input discipline matches the codec tier: decode never
  * throws — truncated chunks, incomplete prefix codes, references
  * before the first pixel, palette/cache overruns, or dimension
  * overflow return None.
  *
  * Reference provenance: the reference pipeline treats media blobs as
  * opaque payloads (backfill_user_profiles.py:144-153); the bitstream
  * is the public RFC 9649 (WebP lossless) specification.
  */
object WebpCodec {
  import PixelCodec.{Gray, lum}
  import Vp8lBits._

  import Bytes.{LsbBitReader, fourcc, le24, le32, riffChunks, u8}

  /** The 120-entry distance-code → (dx, dy) map (RFC 9649 §4.2.2),
    * built by inverting the row-major plane LUT: lut[y·16 + (8−dx)] =
    * 0-based code for dy = y. The construction asserts the LUT is a
    * permutation of 0..119 — every code appears exactly once. */
  private val PlaneLut: Array[Int] = Array(
    96, 73, 55, 39, 23, 13, 5, 1, 255, 255, 255, 255, 255, 255, 255, 255,
    101, 78, 58, 42, 26, 16, 8, 2, 0, 3, 9, 17, 27, 43, 59, 79,
    102, 86, 62, 46, 32, 20, 10, 6, 4, 7, 11, 21, 33, 47, 63, 87,
    105, 90, 70, 52, 37, 28, 18, 14, 12, 15, 19, 29, 38, 53, 71, 91,
    110, 99, 82, 66, 48, 35, 30, 24, 22, 25, 31, 36, 49, 67, 83, 100,
    115, 108, 94, 76, 64, 50, 44, 40, 34, 41, 45, 51, 65, 77, 95, 109,
    118, 113, 103, 92, 80, 68, 60, 56, 54, 57, 61, 69, 81, 93, 104, 114,
    119, 116, 111, 106, 97, 88, 84, 74, 72, 75, 85, 89, 98, 107, 112, 117)

  /** distCode (0-based) → (dx, dy). */
  private[multimodal] val DistMap: Array[(Int, Int)] = {
    val m = new Array[(Int, Int)](120)
    for (y <- 0 until 8; xi <- 0 until 16) {
      val code = PlaneLut(y * 16 + xi)
      if (code != 255) {
        require(m(code) == null, s"duplicate distance code $code")
        m(code) = (8 - xi, y)
      }
    }
    require(m.forall(_ != null), "distance map incomplete")
    m
  }

  private val ArgbBlack = 0xff000000

  // ---- container ----

  /** Decode a still WebP to luma — lossless (VP8L) through the RFC
    * 9649 bitstream below, lossy (VP8 key frame) through
    * [[Vp8Codec]]. None on anything outside the spec envelope or
    * malformed input. */
  def decodeWebp(b: Array[Byte]): Option[Gray] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Gray] = {
    if (b.length < 20 || fourcc(b, 0) != "RIFF" ||
        fourcc(b, 8) != "WEBP") return None
    val riffEnd = math.min(b.length.toLong, 8 + le32(b, 4)).toInt
    // chunk walk to the image chunk (skips VP8X metadata containers)
    riffChunks(b, 12, riffEnd) { (id, s, e) =>
      if (id == "VP8L") return decodeVp8l(b, s, e)
      if (id == "VP8 ") return Vp8Codec.decodeFrame(b, s, e)
      // an extended-format still with an alpha plane (VP8X+ALPH+VP8):
      // the opaque frame decode would IGNORE the alpha plane and land
      // wrong pixels — drop at the gate, the same alpha discipline as
      // [[decodeWebpFrames]]
      id != "ALPH"
    }
    None
  }

  // ---- animation (VP8X + ANIM/ANMF container walk) ----

  private val MaxFrames = 256

  /** Decode an animated (or simple lossless) WebP to its composited
    * frame sequence — the clip-tier analog of [[decodeWebp]]: VP8X
    * canvas dims, ANIM background color, then per-ANMF sub-rect
    * compositing (x/y stored halved per the container spec; disposal
    * none / to-background honored after each emit). Frames must be
    * OPAQUE — lossless VP8L or lossy VP8 (which carries no alpha by
    * construction): ALPH chunks or an alpha-hinted VP8L frame under
    * use-alpha blending return None — the luma canvas cannot honor
    * translucent composition, so such clips drop at the decode gate
    * rather than land wrong pixels. */
  def decodeWebpFrames(b: Array[Byte]): Option[Seq[Gray]] =
    try decodeFrames0(b)
    catch { case _: RuntimeException => None }

  private def decodeFrames0(b: Array[Byte]): Option[Seq[Gray]] = {
    if (b.length < 20 || fourcc(b, 0) != "RIFF" ||
        fourcc(b, 8) != "WEBP") return None
    // a clip truncated at a chunk boundary must NOT surface as a
    // shorter-but-valid clip (the admission tier would mis-pair it):
    // the declared RIFF extent has to be fully present
    if (8 + le32(b, 4) > b.length) return None
    val riffEnd = math.min(b.length.toLong, 8 + le32(b, 4)).toInt
    var canvasW = -1
    var canvasH = -1
    var animated = false
    var bgLuma = 0
    var canvas: Array[Int] = null
    val frames = Seq.newBuilder[Gray]
    var n = 0
    val walked = riffChunks(b, 12, riffEnd) { (id, body, end) =>
      val sz = end - body
      id match {
        case "VP8L" if !animated =>        // simple lossless image
          return decodeVp8l(b, body, end).map(Seq(_))
        case "VP8 " if !animated =>        // simple lossy image
          return Vp8Codec.decodeFrame(b, body, end).map(Seq(_))
        case "ALPH" => return None         // alpha plane unsupported
        case "VP8X" =>
          if (sz < 10) return None
          animated = (u8(b, body) & 0x02) != 0
          canvasW = 1 + le24(b, body + 4)
          canvasH = 1 + le24(b, body + 7)
          if (canvasW.toLong * canvasH > (1L << 26)) return None
        case "ANIM" =>
          if (sz < 6 || !animated) return None
          // background color in [B, G, R, A] byte order
          bgLuma = lum(u8(b, body + 2), u8(b, body + 1), u8(b, body))
        case "ANMF" =>
          if (!animated || canvasW < 0 || sz < 16) return None
          if (canvas == null)
            canvas = Array.fill(canvasW * canvasH)(bgLuma)
          n += 1
          if (n > MaxFrames) return None
          val fx = 2 * le24(b, body)
          val fy = 2 * le24(b, body + 3)
          val fw = 1 + le24(b, body + 6)
          val fh = 1 + le24(b, body + 9)
          val flags = u8(b, body + 15)
          val dispose = (flags & 1) != 0
          val blend = (flags & 2) == 0     // 0 = use alpha blending
          if (fx + fw > canvasW || fy + fh > canvasH) return None
          // frame data: its own chunk(s); expect exactly one VP8L
          var sub: Option[Gray] = None
          val frameOk = riffChunks(b, body + 16, end) { (cid, cs, ce) =>
            cid match {
              case "VP8L" =>
                // an alpha-hinted frame under use-alpha blending
                // could be translucent — the luma canvas can't
                // honor it
                // the hint is bit 28 after the signature (LSB-first):
                // byte sig+4, bit 4
                if (blend && cs < end &&
                    u8(b, cs) == 0x2f && cs + 5 <= end &&
                    ((u8(b, cs + 4) >> 4) & 1) == 1) return None
                sub = decodeVp8l(b, cs, ce)
                if (sub.isEmpty) return None
                if (sub.get.width != fw || sub.get.height != fh)
                  return None
              case "VP8 " =>
                // lossy frames carry no alpha: opaque under either
                // blend mode, so the luma canvas composites exactly
                sub = Vp8Codec.decodeFrame(b, cs, ce)
                if (sub.isEmpty) return None
                if (sub.get.width != fw || sub.get.height != fh)
                  return None
              case "ALPH" => return None
              case _ => ()                 // unknown: skip
            }
            sub.isEmpty
          }
          if (!frameOk || sub.isEmpty) return None
          val g = sub.get
          var y = 0
          while (y < fh) {
            System.arraycopy(g.luma, y * fw, canvas,
              (fy + y) * canvasW + fx, fw)
            y += 1
          }
          frames += Gray(canvasW, canvasH, canvas.clone())
          if (dispose) {
            var yy = 0
            while (yy < fh) {
              java.util.Arrays.fill(canvas, (fy + yy) * canvasW + fx,
                (fy + yy) * canvasW + fx + fw, bgLuma)
              yy += 1
            }
          }
        case _ => ()                       // metadata chunks: skip
      }
      true
    }
    if (!walked) return None
    val out = frames.result()
    if (out.isEmpty) None else Some(out)
  }

  private def decodeVp8l(b: Array[Byte], from: Int,
      until: Int): Option[Gray] = {
    if (from >= until || u8(b, from) != 0x2f) return None
    val r = new LsbBitReader(b, from + 1, until)
    val w = r.bits(14) + 1
    val h = r.bits(14) + 1
    r.bits(1)                          // alpha hint
    if (r.bits(3) != 0) return None    // version must be 0
    if (w.toLong * h > (1L << 26)) return None
    val argb = decodeImageStream(r, w, h, topLevel = true)
    val out = new Array[Int](w * h)
    var i = 0
    while (i < out.length) {
      val px = argb(i)
      out(i) = lum((px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
      i += 1
    }
    Some(Gray(w, h, out))
  }

  // ---- image streams ----

  /** One read transform: type, parameter block size bits, and its
    * decoded sub-image (predictor modes / color elements / palette). */
  private case class Transform(typ: Int, bits: Int, data: Array[Int],
      imageWidth: Int)

  /** Decode an image stream: transforms (top level only), color
    * cache, meta prefix groups (top level only), prefix codes, LZ77
    * pixels, then inverse transforms in reverse read order. */
  private def decodeImageStream(r: LsbBitReader, width: Int, height: Int,
      topLevel: Boolean): Array[Int] = {
    var w = width                          // shrinks under color indexing
    var transforms = List.empty[Transform]
    if (topLevel) {
      var seen = Set.empty[Int]
      while (r.bit() == 1) {
        val typ = r.bits(2)
        if (seen(typ)) fail("duplicate transform")
        seen += typ
        val t = typ match {
          case 0 | 1 =>                    // predictor / cross-color
            val bits = r.bits(3) + 2
            val tw = divCeil(w, 1 << bits)
            val th = divCeil(height, 1 << bits)
            Transform(typ, bits, decodeImageStream(r, tw, th,
              topLevel = false), w)
          case 2 => Transform(2, 0, Array.emptyIntArray, w)
          case _ =>                        // color indexing
            val n = r.bits(8) + 1
            val raw = decodeImageStream(r, n, 1, topLevel = false)
            // palette entries are delta-coded per channel
            var i = 1
            while (i < n) { raw(i) = addPixels(raw(i), raw(i - 1)); i += 1 }
            val widthBits =
              if (n <= 2) 3 else if (n <= 4) 2 else if (n <= 16) 1 else 0
            val t = Transform(3, widthBits, raw, w)
            w = divCeil(w, 1 << widthBits) // subsequent reads use packed w
            t
        }
        transforms = t :: transforms       // head = last read
      }
    }
    var pixels = decodeImageData(r, w, height, topLevel)
    // inverse transforms in reverse order of reading (head first)
    transforms.foreach { t =>
      pixels = t.typ match {
        case 0 => inversePredictor(pixels, t.imageWidth, height, t)
        case 1 => inverseColorTransform(pixels, t.imageWidth, height, t)
        case 2 => inverseSubtractGreen(pixels)
        case _ => inverseColorIndexing(pixels, t.imageWidth, height, t)
      }
    }
    pixels
  }

  /** The 5 prefix codes of one meta group. */
  private case class Group(g: PrefixCode, red: PrefixCode,
      blue: PrefixCode, alpha: PrefixCode, dist: PrefixCode)

  private def decodeImageData(r: LsbBitReader, w: Int, h: Int,
      isMain: Boolean): Array[Int] = {
    val cacheBits = if (r.bit() == 1) r.bits(4) else 0
    if (cacheBits > 11) fail("cache bits")
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0

    // meta prefix groups (ARGB image only)
    var metaBits = 0
    var metaImage: Array[Int] = null
    var metaW = 0
    var nGroups = 1
    if (isMain && r.bit() == 1) {
      metaBits = r.bits(3) + 2
      metaW = divCeil(w, 1 << metaBits)
      val metaH = divCeil(h, 1 << metaBits)
      metaImage = decodeImageStream(r, metaW, metaH, topLevel = false)
      var mx = 0
      metaImage.foreach { px =>
        val id = ((px >> 8) & 0xffff)      // (red << 8) | green
        if (id > mx) mx = id
      }
      nGroups = mx + 1
      if (nGroups > 1024) fail("meta groups")
    }

    val groups = Array.fill(nGroups)(Group(
      readPrefixCode(r, 256 + 24 + cacheSize),
      readPrefixCode(r, 256), readPrefixCode(r, 256),
      readPrefixCode(r, 256), readPrefixCode(r, 40)))

    val n = w * h
    val out = new Array[Int](n)
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    def cacheInsert(px: Int): Unit =
      if (cache != null)
        cache((0x1e35a7bd * px) >>> (32 - cacheBits)) = px

    var pos = 0
    while (pos < n) {
      val grp =
        if (metaImage == null) groups(0)
        else {
          val x = pos % w; val y = pos / w
          val mpx = metaImage((y >> metaBits) * metaW + (x >> metaBits))
          groups((mpx >> 8) & 0xffff)
        }
      val s = grp.g.readSymbol(r)
      if (s < 256) {                       // literal: G, then R, B, A
        val red = grp.red.readSymbol(r)
        val blue = grp.blue.readSymbol(r)
        val alpha = grp.alpha.readSymbol(r)
        val px = (alpha << 24) | (red << 16) | (s << 8) | blue
        out(pos) = px
        cacheInsert(px)
        pos += 1
      } else if (s < 280) {                // backward reference
        val len = prefixValue(s - 256, r)
        val distCode = prefixValue(grp.dist.readSymbol(r), r)
        val dist0 =
          if (distCode > 120) distCode - 120
          else {
            val (dx, dy) = DistMap(distCode - 1)
            val d = dy * w + dx
            if (d < 1) 1 else d
          }
        if (dist0 > pos || pos + len > n) fail("bad reference")
        var k = 0
        while (k < len) {
          val px = out(pos - dist0)
          out(pos) = px
          cacheInsert(px)
          pos += 1
          k += 1
        }
      } else {                             // color cache hit
        if (cache == null || s - 280 >= cacheSize) fail("bad cache ref")
        out(pos) = cache(s - 280)
        pos += 1
      }
    }
    out
  }

  /** LZ77 length/distance prefix value: code < 4 → code + 1, else
    * (2 + (code & 1)) << extra | ReadBits(extra), extra = (code−2)/2. */
  private def prefixValue(code: Int, r: LsbBitReader): Int =
    if (code < 4) code + 1
    else {
      val extra = (code - 2) >> 1
      val offset = (2 + (code & 1)) << extra
      offset + r.bits(extra) + 1
    }

  /** One prefix code: simple (1–2 symbols inline) or code-length-coded
    * with optional max_symbol cap (RFC 9649 §5.2.2). */
  private def readPrefixCode(r: LsbBitReader, alphabetSize: Int): PrefixCode = {
    if (r.bit() == 1) {                // simple
      val nSyms = r.bits(1) + 1
      val first8 = r.bits(1)
      val s0 = r.bits(if (first8 == 1) 8 else 1)
      val lengths = new Array[Int](alphabetSize)
      if (s0 >= alphabetSize) fail("simple symbol")
      lengths(s0) = 1
      if (nSyms == 2) {
        val s1 = r.bits(8)
        if (s1 >= alphabetSize || s1 == s0) fail("simple symbol")
        lengths(s1) = 1
      }
      new PrefixCode(lengths)
    } else {
      val clLengths = new Array[Int](19)
      val nCl = r.bits(4) + 4
      if (nCl > 19) fail("cl count")
      var i = 0
      while (i < nCl) { clLengths(ClOrder(i)) = r.bits(3); i += 1 }
      val clCode = new PrefixCode(clLengths)
      var maxSymbol =
        if (r.bit() == 1) {
          val nBits = 2 + 2 * r.bits(3)
          2 + r.bits(nBits)
        } else alphabetSize
      val lengths = new Array[Int](alphabetSize)
      var sym = 0
      var prev = 8
      while (sym < alphabetSize && maxSymbol > 0) {
        maxSymbol -= 1
        val cl = clCode.readSymbol(r)
        if (cl < 16) {
          lengths(sym) = cl; sym += 1
          if (cl != 0) prev = cl
        } else if (cl == 16) {
          var rep = 3 + r.bits(2)
          while (rep > 0 && sym < alphabetSize) {
            lengths(sym) = prev; sym += 1; rep -= 1
          }
        } else if (cl == 17) {
          sym += 3 + r.bits(3)
        } else {
          sym += 11 + r.bits(7)
        }
      }
      if (sym > alphabetSize) fail("lengths overflow")
      new PrefixCode(lengths)
    }
  }

  // ---- inverse transforms ----

  private def divCeil(a: Int, b: Int): Int = (a + b - 1) / b
  private def fail(msg: String): Nothing =
    throw new IllegalStateException(msg)

  private def addPixels(a: Int, b: Int): Int = {
    val ag = ((a >>> 24) + (b >>> 24)) & 0xff
    val rg = (((a >> 16) & 0xff) + ((b >> 16) & 0xff)) & 0xff
    val gg = (((a >> 8) & 0xff) + ((b >> 8) & 0xff)) & 0xff
    val bg = ((a & 0xff) + (b & 0xff)) & 0xff
    (ag << 24) | (rg << 16) | (gg << 8) | bg
  }

  private def inverseSubtractGreen(px: Array[Int]): Array[Int] = {
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val g = (p >> 8) & 0xff
      val r = (((p >> 16) & 0xff) + g) & 0xff
      val b = ((p & 0xff) + g) & 0xff
      px(i) = (p & 0xff00ff00) | (r << 16) | b
      i += 1
    }
    px
  }

  private def avg2(a: Int, b: Int): Int = {
    val aa = (((a >>> 24) + (b >>> 24)) / 2) << 24
    val rr = ((((a >> 16) & 0xff) + ((b >> 16) & 0xff)) / 2) << 16
    val gg = ((((a >> 8) & 0xff) + ((b >> 8) & 0xff)) / 2) << 8
    val bb = ((a & 0xff) + (b & 0xff)) / 2
    aa | rr | gg | bb
  }

  private def clip255(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  private def clampAddSubtractFull(l: Int, t: Int, tl: Int): Int = {
    def ch(sh: Int): Int = clip255(((l >> sh) & 0xff) + ((t >> sh) & 0xff) -
      ((tl >> sh) & 0xff))
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def clampAddSubtractHalf(l: Int, t: Int, tl: Int): Int = {
    val ave = avg2(l, t)
    def ch(sh: Int): Int = {
      val a = (ave >> sh) & 0xff
      val b = (tl >> sh) & 0xff
      clip255(a + (a - b) / 2)
    }
    (ch(24) << 24) | (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  private def select(l: Int, t: Int, tl: Int): Int = {
    def ch(p: Int, sh: Int): Int = (p >> sh) & 0xff
    val pa = ch(l, 24) + ch(t, 24) - ch(tl, 24)
    val pr = ch(l, 16) + ch(t, 16) - ch(tl, 16)
    val pg = ch(l, 8) + ch(t, 8) - ch(tl, 8)
    val pb = ch(l, 0) + ch(t, 0) - ch(tl, 0)
    val pL = math.abs(pa - ch(l, 24)) + math.abs(pr - ch(l, 16)) +
      math.abs(pg - ch(l, 8)) + math.abs(pb - ch(l, 0))
    val pT = math.abs(pa - ch(t, 24)) + math.abs(pr - ch(t, 16)) +
      math.abs(pg - ch(t, 8)) + math.abs(pb - ch(t, 0))
    if (pL < pT) l else t
  }

  /** The predicted pixel for mode 0–13 given decoded neighbors
    * (RFC 9649 §4.2.1); exposed to the encoder so residuals come from
    * the identical prediction law. */
  private[multimodal] def predict(mode: Int, l: Int, t: Int, tl: Int,
      tr: Int): Int = mode match {
    case 0 => ArgbBlack
    case 1 => l
    case 2 => t
    case 3 => tr
    case 4 => tl
    case 5 => avg2(avg2(l, tr), t)
    case 6 => avg2(l, tl)
    case 7 => avg2(l, t)
    case 8 => avg2(tl, t)
    case 9 => avg2(t, tr)
    case 10 => avg2(avg2(l, tl), avg2(t, tr))
    case 11 => select(l, t, tl)
    case 12 => clampAddSubtractFull(l, t, tl)
    case 13 => clampAddSubtractHalf(l, t, tl)
    case _ => fail("predictor mode")
  }

  /** Border law (RFC 9649): (0,0) predicts black; the top row uses L;
    * the left column uses T; the last column's TR is the current
    * row's first pixel. Exposed to the encoder. */
  private[multimodal] def predictAt(px: Array[Int], w: Int, x: Int,
      y: Int, mode: Int): Int =
    if (x == 0 && y == 0) ArgbBlack
    else if (y == 0) px(y * w + x - 1)                    // L
    else if (x == 0) px((y - 1) * w)                      // T
    else {
      val l = px(y * w + x - 1)
      val t = px((y - 1) * w + x)
      val tl = px((y - 1) * w + x - 1)
      val tr = if (x + 1 < w) px((y - 1) * w + x + 1) else px(y * w)
      predict(mode, l, t, tl, tr)
    }

  private def inversePredictor(px: Array[Int], w: Int, h: Int,
      t: Transform): Array[Int] = {
    val tw = divCeil(w, 1 << t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val mode =
          (t.data((y >> t.bits) * tw + (x >> t.bits)) >> 8) & 0xff
        if (mode > 13) fail("predictor mode")
        px(y * w + x) = addPixels(px(y * w + x), predictAt(px, w, x, y, mode))
        x += 1
      }
      y += 1
    }
    px
  }

  /** Signed ×signed product >> 5 (RFC 9649 §4.2.1 cross-color);
    * exposed so the encoder's forward transform subtracts the exact
    * delta this inverse adds back. */
  private[multimodal] def ctDelta(t: Int, c: Int): Int =
    ((t.toByte.toInt * c.toByte.toInt) >> 5)

  private def inverseColorTransform(px: Array[Int], w: Int, h: Int,
      t: Transform): Array[Int] = {
    val tw = divCeil(w, 1 << t.bits)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cte = t.data((y >> t.bits) * tw + (x >> t.bits))
        val g2r = (cte >> 0) & 0xff        // blue channel
        val g2b = (cte >> 8) & 0xff        // green channel
        val r2b = (cte >> 16) & 0xff       // red channel
        val p = px(y * w + x)
        val g = (p >> 8) & 0xff
        val red = (((p >> 16) & 0xff) + ctDelta(g2r, g)) & 0xff
        val blue = ((p & 0xff) + ctDelta(g2b, g) + ctDelta(r2b, red)) & 0xff
        px(y * w + x) = (p & 0xff00ff00) | (red << 16) | blue
        x += 1
      }
      y += 1
    }
    px
  }

  private def inverseColorIndexing(px: Array[Int], w: Int, h: Int,
      t: Transform): Array[Int] = {
    val palette = t.data
    val widthBits = t.bits
    val perPacked = 1 << widthBits
    val subBits = 8 >> widthBits
    val mask = (1 << subBits) - 1
    val packedW = divCeil(w, perPacked)
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val packed = px(y * packedW + (x / perPacked))
        val idx = ((packed >> 8) >> ((x % perPacked) * subBits)) & mask
        out(y * w + x) =
          if (idx < palette.length) palette(idx) else 0
        x += 1
      }
      y += 1
    }
    out
  }
}
