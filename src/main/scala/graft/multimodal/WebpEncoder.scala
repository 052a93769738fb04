package graft.multimodal

/** Spec-valid VP8L (WebP lossless) encoder for the planted-fixture
  * discipline — produces RIFF/WEBP/VP8L streams that third-party
  * decoders accept and [[WebpCodec.decodeWebp]] round-trips to the
  * EXACT input pixels, so a WebP re-render of a PNG scene joins the
  * md5-arithmetic perceptual oracles as a cross-format copy.
  *
  * Dial surface (each dial exercises a distinct decoder path):
  *   - `predictorBits`: the predictor transform at the given tile
  *     size, tile modes cycling through all 14 prediction laws;
  *   - `crossColor`: one global cross-color tile (salted deltas);
  *   - `subtractGreen`: the green-subtraction transform;
  *   - `palette`: color-indexing, with sub-byte pixel bundling
  *     whenever the distinct-color count allows (≤16);
  *   - `cacheBits`: the hashed color cache;
  *   - `lz77`: backward references (runs against distance 1 and the
  *     row stride, preferring the 120-entry 2D distance map).
  * Prefix codes are emitted simple (1–2 symbols) or code-length-coded
  * with 16/17/18 run symbols — the same canonical construction
  * ([[Vp8lBits.PrefixCode]]) the decoder walks, so a round trip
  * pins one definition of the bit order.
  *
  * Forward transforms apply in read order (the decoder inverts in
  * reverse read order): predictor, then cross-color, then
  * subtract-green — each the exact mod-256 inverse of its decoder
  * counterpart, sharing [[WebpCodec.predictAt]] / [[WebpCodec.ctDelta]]
  * so residuals come from the identical prediction law.
  *
  * Reference provenance: the reference pipeline stores media blobs as
  * opaque payloads (backfill_user_profiles.py:144-153); the bitstream
  * is the public RFC 9649 (WebP lossless) specification.
  */
object WebpEncoder {
  import PixelCodec.{Gray, colorize}
  import Vp8lBits._
  import Bytes.{LsbBitWriter, le24b, riffChunk}

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)

  /** Encode a grayscale image as lossless WebP. `color` routes each
    * luma through [[PixelCodec.colorize]] (r/b salt-spread, g chosen
    * so BT.601 luma is exactly the input value), making the color
    * transforms non-trivial while keeping the decoded luma pinned. */
  def encodeWebp(img: Gray, salt: Int = 0, color: Boolean = false,
      subtractGreen: Boolean = true, predictorBits: Int = 0,
      crossColor: Boolean = false, cacheBits: Int = 0,
      palette: Boolean = false, lz77: Boolean = true): Array[Byte] =
    wrapRiff(vp8lPayload(img, salt, color, subtractGreen,
      predictorBits, crossColor, cacheBits, palette, lz77))

  /** The VP8L chunk payload (signature byte + bitstream) — shared by
    * the still wrap and the per-ANMF frames of the animation
    * encoder. */
  private def vp8lPayload(img: Gray, salt: Int, color: Boolean,
      subtractGreen: Boolean, predictorBits: Int, crossColor: Boolean,
      cacheBits: Int, palette: Boolean, lz77: Boolean): Array[Byte] = {
    val w = img.width; val h = img.height
    require(w >= 1 && h >= 1 && w <= 16384 && h <= 16384, "dims")
    require(cacheBits >= 0 && cacheBits <= 11, "cacheBits")
    require(predictorBits == 0 ||
      (predictorBits >= 2 && predictorBits <= 9), "predictorBits")
    require(!palette || (!crossColor && predictorBits == 0),
      "palette composes only with subtractGreen=false paths here")
    val argb0 = new Array[Int](w * h)
    var i = 0
    while (i < argb0.length) {
      val v = img.luma(i)
      argb0(i) =
        if (color) {
          val (r, g, b) = colorize(v, salt)
          0xff000000 | (r << 16) | (g << 8) | b
        } else 0xff000000 | (v << 16) | (v << 8) | v
      i += 1
    }

    val bw = new LsbBitWriter
    bw.bits(w - 1, 14)
    bw.bits(h - 1, 14)
    bw.bits(0, 1)                     // alpha hint
    bw.bits(0, 3)                     // version

    var px = argb0
    var effW = w
    if (palette) {
      val pal = px.distinct
      if (pal.length > 256) fail("palette overflow")
      bw.bits(1, 1); bw.bits(3, 2)
      bw.bits(pal.length - 1, 8)
      val deltas = pal.zipWithIndex.map { case (p, j) =>
        if (j == 0) p else subPixels(p, pal(j - 1))
      }
      writeImageData(bw, deltas, pal.length, 1, isMain = false,
        cacheBits = 0, lz77 = false)
      val widthBits =
        if (pal.length <= 2) 3 else if (pal.length <= 4) 2
        else if (pal.length <= 16) 1 else 0
      val perPacked = 1 << widthBits
      val subBits = 8 >> widthBits
      val idx = pal.zipWithIndex.toMap
      val packedW = (w + perPacked - 1) / perPacked
      val packed = new Array[Int](packedW * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val j = idx(px(y * w + x))
          val p = y * packedW + x / perPacked
          packed(p) = packed(p) | ((j << ((x % perPacked) * subBits)) << 8)
          x += 1
        }
        y += 1
      }
      px = packed
      effW = packedW
    } else {
      if (predictorBits > 0) {
        bw.bits(1, 1); bw.bits(0, 2)
        bw.bits(predictorBits - 2, 3)
        val tw = divCeil(w, 1 << predictorBits)
        val th = divCeil(h, 1 << predictorBits)
        val modes = Array.tabulate(tw * th)(t =>
          0xff000000 | (((salt + t) % 14) << 8))
        writeImageData(bw, modes, tw, th, isMain = false,
          cacheBits = 0, lz77 = false)
        val res = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val mode = (modes((y >> predictorBits) * tw +
              (x >> predictorBits)) >> 8) & 0xff
            res(y * w + x) = subPixels(px(y * w + x),
              WebpCodec.predictAt(px, w, x, y, mode))
            x += 1
          }
          y += 1
        }
        px = res
      }
      if (crossColor) {
        bw.bits(1, 1); bw.bits(1, 2)
        bw.bits(7, 3)                 // bits=9: one global tile
        val g2r = 0x10 + (salt & 0x0f)
        val g2b = 0xe8
        val r2b = 0x23 + (salt & 0x07)
        writeImageData(bw,
          Array(0xff000000 | (r2b << 16) | (g2b << 8) | g2r),
          1, 1, isMain = false, cacheBits = 0, lz77 = false)
        val out = new Array[Int](px.length)
        var j = 0
        while (j < px.length) {
          val p = px(j)
          val g = (p >> 8) & 0xff
          val r = (p >> 16) & 0xff
          val rE = (r - WebpCodec.ctDelta(g2r, g)) & 0xff
          val bE = ((p & 0xff) - WebpCodec.ctDelta(g2b, g) -
            WebpCodec.ctDelta(r2b, r)) & 0xff
          out(j) = (p & 0xff00ff00) | (rE << 16) | bE
          j += 1
        }
        px = out
      }
      if (subtractGreen) {
        bw.bits(1, 1); bw.bits(2, 2)
        val out = new Array[Int](px.length)
        var j = 0
        while (j < px.length) {
          val p = px(j)
          val g = (p >> 8) & 0xff
          val rE = (((p >> 16) & 0xff) - g) & 0xff
          val bE = ((p & 0xff) - g) & 0xff
          out(j) = (p & 0xff00ff00) | (rE << 16) | bE
          j += 1
        }
        px = out
      }
    }
    bw.bits(0, 1)                     // no more transforms
    writeImageData(bw, px, effW, h, isMain = true, cacheBits, lz77)
    Array[Byte](0x2f) ++ bw.result()
  }

  /** Animated WebP: VP8X (animation flag, canvas dims) + ANIM
    * (background color) + one ANMF per frame, each a lossless VP8L
    * payload. `deltaRect` encodes frames 1+ as the even-aligned
    * bounding rect of pixels changed since the previous frame (the
    * container stores x/2, y/2, so offsets round DOWN to even and the
    * rect widens to cover); otherwise every frame is full-canvas.
    * Frames are opaque, blend = do-not-blend, disposal none (or
    * to-background on every frame when `disposeBg` — which forces
    * full-canvas rects so the composited result is frame-identical
    * either way on our evolution clips). */
  def encodeWebpAnimated(frames: Seq[Gray], salt: Int = 0,
      deltaRect: Boolean = true, color: Boolean = false,
      disposeBg: Boolean = false,
      bg: (Int, Int, Int) = (0, 0, 0)): Array[Byte] = {
    require(frames.nonEmpty, "no frames")
    val w = frames.head.width; val h = frames.head.height
    require(frames.forall(f => f.width == w && f.height == h), "dims")
    val out = new java.io.ByteArrayOutputStream()
    def chunk(fc: String, body: Array[Byte]): Unit =
      out.write(riffChunk(fc, body))
    // VP8X: flags (animation), 3 reserved, canvas w-1 / h-1 (24-bit)
    chunk("VP8X", Array[Byte](0x02, 0, 0, 0) ++ le24b(w - 1) ++ le24b(h - 1))
    // ANIM: background color [B, G, R, A] + loop count
    val (br, bgG, bb) = bg
    chunk("ANIM", Array[Byte](bb.toByte, bgG.toByte, br.toByte,
      0xff.toByte, 0, 0))
    var prev: Gray = null
    frames.zipWithIndex.foreach { case (f, i) =>
      val (fx, fy, fw, fh) =
        if (i == 0 || !deltaRect || disposeBg) (0, 0, w, h)
        else {
          var x0 = w; var y0 = h; var x1 = -1; var y1 = -1
          var j = 0
          while (j < f.luma.length) {
            if (f.luma(j) != prev.luma(j)) {
              val x = j % w; val y = j / w
              if (x < x0) x0 = x
              if (x > x1) x1 = x
              if (y < y0) y0 = y
              if (y > y1) y1 = y
            }
            j += 1
          }
          if (x1 < 0) (0, 0, 2, 2)         // identical frame: tiny rect
          else {
            val ex = x0 & ~1; val ey = y0 & ~1  // even-aligned origin
            (ex, ey, x1 - ex + 1, y1 - ey + 1)
          }
        }
      val sub =
        if (fw == w && fh == h) f
        else Gray(fw, fh, Array.tabulate(fw * fh)(j =>
          f.luma((fy + j / fw) * w + fx + j % fw)))
      val payload = vp8lPayload(sub, salt = salt + i, color = color,
        subtractGreen = true, predictorBits = 0,
        crossColor = color, cacheBits = if (i % 2 == 0) 6 else 0,
        palette = false, lz77 = true)
      chunk("ANMF", le24b(fx / 2) ++ le24b(fy / 2) ++
        le24b(fw - 1) ++ le24b(fh - 1) ++
        le24b(40) ++                       // duration ms
        Array((0x02 | (if (disposeBg) 1 else 0)).toByte) ++ // no-blend (+dispose)
        riffChunk("VP8L", payload))
      prev = f
    }
    riffChunk("RIFF", "WEBP".getBytes("US-ASCII") ++ out.toByteArray)
  }

  private def divCeil(a: Int, b: Int): Int = (a + b - 1) / b

  private def subPixels(a: Int, b: Int): Int = {
    val aa = ((a >>> 24) - (b >>> 24)) & 0xff
    val rr = (((a >> 16) & 0xff) - ((b >> 16) & 0xff)) & 0xff
    val gg = (((a >> 8) & 0xff) - ((b >> 8) & 0xff)) & 0xff
    val bb = ((a & 0xff) - (b & 0xff)) & 0xff
    (aa << 24) | (rr << 16) | (gg << 8) | bb
  }

  // ---- tokens ----

  private sealed trait Tok
  private final case class Lit(px: Int) extends Tok
  private final case class CacheRef(idx: Int) extends Tok
  private final case class Copy(len: Int, distVal: Int) extends Tok

  /** 1-based dist-code → (dx, dy) inverted for encoding. */
  private val ReverseDist: Map[(Int, Int), Int] =
    WebpCodec.DistMap.zipWithIndex.map { case ((dx, dy), i) =>
      (dx, dy) -> (i + 1)
    }.toMap

  /** Prefer the 2D map (codes 1–120) for a scan distance, else the
    * plain form d + 120. */
  private def distValFor(d: Int, w: Int): Int = {
    val c1 = (d % w, d / w)
    val c2 = (d % w - w, d / w + 1)
    ReverseDist.get(c1).orElse(ReverseDist.get(c2)).getOrElse(d + 120)
  }

  /** Inverse of [[WebpCodec]]'s prefixValue: value v ≥ 1 →
    * (code, extraBits, extraVal). */
  private[multimodal] def toPrefixCode(v: Int): (Int, Int, Int) = {
    val x = v - 1
    if (x < 4) (x, 0, 0)
    else {
      var e = 1
      while ((4 << e) <= x) e += 1       // x ∈ [2^(e+1), 2^(e+2))
      if (x < (3 << e)) (2 * e + 2, e, x - (2 << e))
      else (2 * e + 3, e, x - (3 << e))
    }
  }

  private val MaxCopyLen = 4096            // length code 23 ceiling

  private def buildTokens(px: Array[Int], w: Int, cacheBits: Int,
      lz77: Boolean): Vector[Tok] = {
    val n = px.length
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val cache = if (cacheSize > 0) new Array[Int](cacheSize) else null
    val seen = if (cacheSize > 0) new Array[Boolean](cacheSize) else null
    def slot(p: Int): Int = (0x1e35a7bd * p) >>> (32 - cacheBits)
    def insert(p: Int): Unit =
      if (cache != null) { val s = slot(p); cache(s) = p; seen(s) = true }
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < n) {
      var bestLen = 0
      var bestDist = 0
      if (lz77) {
        // candidate distances: 1 (horizontal run) and w (row above)
        (if (w > 1) List(1, w) else List(1)).foreach { d =>
          if (d <= i) {
            var k = 0
            val cap = math.min(MaxCopyLen, n - i)
            while (k < cap && px(i + k) == px(i + k - d)) k += 1
            if (k > bestLen) { bestLen = k; bestDist = d }
          }
        }
      }
      if (bestLen >= 3) {
        out += Copy(bestLen, distValFor(bestDist, w))
        var k = 0
        while (k < bestLen) { insert(px(i + k)); k += 1 }
        i += bestLen
      } else {
        val p = px(i)
        if (cache != null && seen(slot(p)) && cache(slot(p)) == p)
          out += CacheRef(slot(p))
        else {
          out += Lit(p)
          insert(p)
        }
        i += 1
      }
    }
    out.result()
  }

  // ---- prefix-code transmission ----

  /** Write one prefix code: trivial/simple for ≤2 usable symbols,
    * else the code-length-coded form with 16/17/18 runs. Returns the
    * encoder table. */
  private def writeCode(bw: LsbBitWriter, freq: Array[Long],
      alphabetSize: Int): Array[(Int, Int)] = {
    val used = freq.indices.filter(freq(_) > 0)
    if (used.isEmpty) {
      // unused alphabet: 1-symbol simple code the decoder never reads
      bw.bits(1, 1); bw.bits(0, 1)
      bw.bits(0, 1); bw.bits(0, 1)
      val t = new Array[(Int, Int)](alphabetSize)
      t(0) = (0, 0)
      return t
    }
    val lengths: Array[Int] =
      if (used.length <= 2 && used.forall(_ <= 255)) {
        val l = new Array[Int](alphabetSize)
        used.foreach(l(_) = 1)
        bw.bits(1, 1)                 // simple
        bw.bits(used.length - 1, 1)
        val s0 = used.head
        if (s0 > 1) { bw.bits(1, 1); bw.bits(s0, 8) }
        else { bw.bits(0, 1); bw.bits(s0, 1) }
        if (used.length == 2) bw.bits(used(1), 8)
        l
      } else {
        val l = huffmanLengths(freq)
        bw.bits(0, 1)                 // code-length-coded
        writeLengths(bw, l)
        l
      }
    new PrefixCode(lengths).encoderTable
  }

  /** Code-length sequence via the 19-symbol code-length code:
    * literal lengths 0–15, 16 = repeat-previous ×3–6,
    * 17/18 = zero runs ×3–10 / ×11–138. */
  private def writeLengths(bw: LsbBitWriter, lengths: Array[Int]): Unit = {
    // tokenize
    val toks = Vector.newBuilder[(Int, Int, Int)] // (clSym, extraBits, extraVal)
    var i = 0
    while (i < lengths.length) {
      val l = lengths(i)
      var run = 1
      while (i + run < lengths.length && lengths(i + run) == l) run += 1
      if (l == 0) {
        var left = run
        while (left > 0) {
          if (left >= 11) {
            val take = math.min(left, 138)
            toks += ((18, 7, take - 11)); left -= take
          } else if (left >= 3) {
            val take = math.min(left, 10)
            toks += ((17, 3, take - 3)); left -= take
          } else {
            toks += ((0, 0, 0)); left -= 1
          }
        }
      } else {
        toks += ((l, 0, 0))
        var left = run - 1
        while (left > 0) {
          if (left >= 3) {
            val take = math.min(left, 6)
            toks += ((16, 2, take - 3)); left -= take
          } else {
            toks += ((l, 0, 0)); left -= 1
          }
        }
      }
      i += run
    }
    val tokens = toks.result()
    val clFreq = new Array[Long](19)
    tokens.foreach(t => clFreq(t._1) += 1)
    val clLengths =
      if (clFreq.count(_ > 0) == 1) {
        // single cl symbol: a 1-length entry decodes 0-bit
        val l = new Array[Int](19)
        l(clFreq.indexWhere(_ > 0)) = 1
        l
      } else huffmanLengths(clFreq, maxLen = 7)
    bw.bits(19 - 4, 4)
    var k = 0
    while (k < 19) { bw.bits(clLengths(ClOrder(k)), 3); k += 1 }
    bw.bits(0, 1)                     // no max_symbol cap
    val clTable = new PrefixCode(clLengths).encoderTable
    tokens.foreach { case (sym, eb, ev) =>
      writeSymbol(bw, clTable, sym)
      if (eb > 0) bw.bits(ev, eb)
    }
  }

  // ---- image data ----

  private def writeImageData(bw: LsbBitWriter, px: Array[Int], w: Int,
      h: Int, isMain: Boolean, cacheBits: Int, lz77: Boolean): Unit = {
    require(px.length == w * h, "pixel count")
    if (cacheBits > 0) { bw.bits(1, 1); bw.bits(cacheBits, 4) }
    else bw.bits(0, 1)
    if (isMain) bw.bits(0, 1)         // no meta prefix groups
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    val tokens = buildTokens(px, w, cacheBits, lz77)

    val gF = new Array[Long](256 + 24 + cacheSize)
    val rF = new Array[Long](256)
    val bF = new Array[Long](256)
    val aF = new Array[Long](256)
    val dF = new Array[Long](40)
    tokens.foreach {
      case Lit(p) =>
        gF((p >> 8) & 0xff) += 1
        rF((p >> 16) & 0xff) += 1
        bF(p & 0xff) += 1
        aF(p >>> 24) += 1
      case CacheRef(idx) => gF(280 + idx) += 1
      case Copy(len, dv) =>
        gF(256 + toPrefixCode(len)._1) += 1
        dF(toPrefixCode(dv)._1) += 1
    }
    val gT = writeCode(bw, gF, 256 + 24 + cacheSize)
    val rT = writeCode(bw, rF, 256)
    val bT = writeCode(bw, bF, 256)
    val aT = writeCode(bw, aF, 256)
    val dT = writeCode(bw, dF, 40)
    tokens.foreach {
      case Lit(p) =>
        writeSymbol(bw, gT, (p >> 8) & 0xff)
        writeSymbol(bw, rT, (p >> 16) & 0xff)
        writeSymbol(bw, bT, p & 0xff)
        writeSymbol(bw, aT, p >>> 24)
      case CacheRef(idx) =>
        writeSymbol(bw, gT, 280 + idx)
      case Copy(len, dv) =>
        val (lc, leb, lev) = toPrefixCode(len)
        writeSymbol(bw, gT, 256 + lc)
        if (leb > 0) bw.bits(lev, leb)
        val (dc, deb, dev) = toPrefixCode(dv)
        writeSymbol(bw, dT, dc)
        if (deb > 0) bw.bits(dev, deb)
    }
  }

  // ---- container ----

  private def wrapRiff(vp8l: Array[Byte]): Array[Byte] =
    riffChunk("RIFF", "WEBP".getBytes("US-ASCII") ++ riffChunk("VP8L", vp8l))
}
