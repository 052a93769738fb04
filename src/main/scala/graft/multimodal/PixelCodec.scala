package graft.multimodal

import java.util.zip.{CRC32, Deflater, Inflater}

/** Pixel-level image codec for the perceptual-hash tier — REAL decode
  * with no codec library: 8-bit PNG in the four byte-aligned color
  * modes (grayscale, RGB, palette, RGBA) rides the JDK's zlib
  * (`Inflater`) plus hand-reversed scanline filters (all five PNG
  * filter types: None/Sub/Up/Average/Paeth, RFC 2083 §6 — the filters
  * operate on BYTES with the "left" operand `bpp` bytes back, so one
  * reversal loop covers every color mode, and Adam7 interlace runs it
  * per pass), and 24-bit uncompressed BMP is plain byte arithmetic.
  * Color collapses to luma through the
  * integer BT.601 weights (77·R + 150·G + 29·B) >> 8 — exact identity
  * on gray pixels (77+150+29 = 256). That covers the decode side a
  * perceptual near-dup needs (re-encoded, resized, color/palette,
  * format-converted, metadata-stripped variants of one image all reach
  * the same luma); JPEG's DCT tier stays behind the open codec seam
  * ([[Multimodal.MediaDecoder]]) like audio/video sample decode.
  *
  * Everything is deterministic integer arithmetic — decode, the 8×8
  * bin-partition downsample (any dimensions ≥ 8), and the 64-bit dHash
  * — so the DuckDB oracle can recompute expected hashes from the
  * fixture-planting formula and the whole pipeline is hash-checked end
  * to end (reference analog: the opaque media blobs of
  * backfill_user_profiles.py, which the reference never dedups
  * perceptually — this closes that gap Spark-first).
  *
  * Hostile-input discipline matches [[Multimodal.HeaderDecoder]]:
  * decode never throws — truncated chunks, corrupt deflate streams,
  * preset-dictionary (FDICT) streams, undersized pixel buffers,
  * missing palettes, out-of-range palette indices, or unsupported
  * color modes (16-bit palette, sub-byte RGB) return None.
  * Adam7-interlaced streams decode through the 7-pass walker (each
  * pass an independently filtered sub-image scattered on the 8×8
  * tile pattern); 1/2/4-bit gray and palette depths unpack MSB-first
  * behind the same filter loop.
  */
object PixelCodec {

  import Bytes.{be32, be32b, le16, le16b, le32, le32b, u8}

  /** A decoded grayscale image: luma (0–255) row-major. */
  case class Gray(width: Int, height: Int, luma: Array[Int])

  /** Integer BT.601 luma: (77·R + 150·G + 29·B) >> 8. The weights sum
    * to 256, so r = g = b = v maps to exactly v — gray stays gray. */
  def lum(r: Int, g: Int, b: Int): Int = (77 * r + 150 * g + 29 * b) >> 8

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Channels per pixel for the supported color types; -1 = reject. */
  private def bppOf(colorType: Int): Int = colorType match {
    case 0 => 1 // grayscale
    case 2 => 3 // RGB
    case 3 => 1 // palette index
    case 6 => 4 // RGBA (alpha ignored for luma)
    case _ => -1
  }

  /** Adam7 pass geometry: x/y start offsets and steps (PNG spec §2,
    * the 8×8 tile pattern). */
  private val A7xs = Array(0, 4, 0, 2, 0, 1, 0)
  private val A7ys = Array(0, 0, 4, 0, 2, 0, 1)
  private val A7xd = Array(8, 8, 4, 4, 2, 2, 1)
  private val A7yd = Array(8, 8, 8, 4, 4, 2, 2)

  /** Pixel dimensions of Adam7 pass `p` for a w×h image (0 in either
    * axis = the pass is absent: no rows, not even filter bytes). */
  private def a7Dims(p: Int, w: Int, h: Int): (Int, Int) =
    ((w - A7xs(p) + A7xd(p) - 1) / A7xd(p),
     (h - A7ys(p) + A7yd(p) - 1) / A7yd(p))

  /** Reverse the per-scanline byte filter of `rows` rows of `rowBytes`
    * bytes at `off` in `raw` (layout: filter byte + row bytes), IN
    * PLACE — the shared reconstruction loop: filters are byte-wise
    * with "left" = bpp bytes back and Paeth's c = the up-left byte
    * (RFC 2083 §6), which serves every color mode, bit depth, and
    * (for Adam7) every pass, since each pass is an independently
    * filtered sub-image. */
  private def defilter(raw: Array[Byte], off: Int, rows: Int,
      rowBytes: Int, bpp: Int): Boolean = {
    var y = 0
    while (y < rows) {
      val rowOff = off + y * (rowBytes + 1)
      val filter = u8(raw, rowOff)
      if (filter > 4) return false
      var x = 0
      while (x < rowBytes) {
        val cur = u8(raw, rowOff + 1 + x)
        val a = if (x >= bpp) u8(raw, rowOff + 1 + x - bpp) else 0
        val bb = if (y > 0) u8(raw, rowOff - rowBytes + x) else 0
        val c = if (x >= bpp && y > 0) u8(raw, rowOff - rowBytes + x - bpp)
          else 0
        val v = filter match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + bb
          case 3 => cur + (a + bb) / 2
          case 4 => cur + paeth(a, bb, c)
        }
        raw(rowOff + 1 + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    true
  }

  /** Decode an 8- or 16-bit PNG in color type 0 (gray), 2 (RGB), 3
    * (palette — 8-bit only, per spec), or 6 (RGBA) to luma, both
    * sequential and Adam7-interlaced. Walks the chunk stream,
    * concatenates IDAT payloads, inflates, reverses the per-scanline
    * byte filter at the mode's bpp (filters are byte-wise at EVERY
    * depth — RFC 2083 §6 — so one loop covers every mode; Adam7
    * passes are independent filtered sub-images, so the same loop runs
    * per pass with the pass's own row geometry before pixels scatter
    * to their 8×8-tile positions), and collapses color through
    * [[lum]]; 16-bit samples take their high byte (the spec's
    * sample-depth rescale truncation — exact for v·257 samples, i.e.
    * any 8-bit-representable value). Ancillary chunks (tEXt etc.) are
    * skipped, so metadata-stripped/annotated re-encodes decode to the
    * same pixels. Returns None for malformed input. */
  private[graft] def decodePng(b: Array[Byte]): Option[Gray] = {
    if (b.length < 45 || !b.take(8).sameElements(PngSig)) return None
    var p = 8
    var w = 0; var h = 0; var colorType = -1; var ok = false
    var stride = 1
    var depthBits = 8
    var interlaced = false
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    while (p + 8 <= b.length) {
      // be32 is unsigned and the sum is a Long: a length near 2^31
      // cannot wrap past the bounds check
      if (p + 12 + be32(b, p) > b.length) return None
      val len = be32(b, p).toInt
      val typ = new String(b, p + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (len != 13) return None
          w = be32(b, p + 8).toInt; h = be32(b, p + 12).toInt
          colorType = u8(b, p + 17)
          depthBits = u8(b, p + 16)
          // gray: 1/2/4/8/16; palette: 1/2/4/8; RGB/RGBA: 8/16 —
          // the PNG §11.2.2 matrix; deflate, adaptive filtering,
          // interlace 0 (sequential) or 1 (Adam7)
          val il = u8(b, p + 20)
          val depthOk = colorType match {
            case 0 => Set(1, 2, 4, 8, 16)(depthBits)
            case 3 => Set(1, 2, 4, 8)(depthBits)
            case _ => depthBits == 8 || depthBits == 16
          }
          if (!depthOk || bppOf(colorType) < 0 ||
              u8(b, p + 18) != 0 || u8(b, p + 19) != 0 ||
              (il != 0 && il != 1)) return None
          stride = math.max(depthBits / 8, 1)
          interlaced = il == 1
        case "PLTE" =>
          if (len % 3 != 0 || len == 0 || len > 768) return None
          plte = java.util.Arrays.copyOfRange(b, p + 8, p + 8 + len)
        case "IDAT" => idat.write(b, p + 8, len)
        case "IEND" => ok = true
        case _ => () // ancillary chunk: skip
      }
      p += 12 + len
    }
    if (!ok || w <= 0 || h <= 0 || w.toLong * h > (1L << 26) ||
        colorType < 0) return None
    if (colorType == 3 && plte == null) return None
    if (depthBits < 8) {
      // sub-byte depths (1/2/4-bit gray or palette): samples pack
      // MSB-first, the filter bpp is 1 byte (RFC 2083 §6), row bytes
      // are ⌈w·depth/8⌉; gray scales by 255/(2^d−1) (exact: 255 =
      // 3·5·17), palette indices look up directly
      return decodeSubByte(b, idat.toByteArray, w, h, colorType,
        depthBits, interlaced, plte)
    }
    val bpp = bppOf(colorType) * stride
    val rowBytes = w * bpp
    if (rowBytes.toLong * h > (1L << 28)) return None
    val raw: Array[Byte] =
      if (!interlaced) {
        val r = inflate(idat.toByteArray, (rowBytes + 1) * h)
          .getOrElse(return None)
        if (!defilter(r, 0, h, rowBytes, bpp)) return None
        r
      } else {
        // Adam7: inflate the concatenated passes, defilter each pass
        // as its own sub-image, scatter pixels to tile positions in a
        // canvas laid out like the sequential raw (zero filter slots)
        var total = 0
        var pi = 0
        while (pi < 7) {
          val (pw, ph) = a7Dims(pi, w, h)
          if (pw > 0 && ph > 0) total += (pw * bpp + 1) * ph
          pi += 1
        }
        val pr = inflate(idat.toByteArray, total).getOrElse(return None)
        val canvas = new Array[Byte]((rowBytes + 1) * h)
        var off = 0
        pi = 0
        while (pi < 7) {
          val (pw, ph) = a7Dims(pi, w, h)
          if (pw > 0 && ph > 0) {
            val prb = pw * bpp
            if (!defilter(pr, off, ph, prb, bpp)) return None
            var j = 0
            while (j < ph) {
              val y = A7ys(pi) + j * A7yd(pi)
              var i = 0
              while (i < pw) {
                val x = A7xs(pi) + i * A7xd(pi)
                var c = 0
                while (c < bpp) {
                  canvas(y * (rowBytes + 1) + 1 + x * bpp + c) =
                    pr(off + j * (prb + 1) + 1 + i * bpp + c)
                  c += 1
                }
                i += 1
              }
              j += 1
            }
            off += (prb + 1) * ph
          }
          pi += 1
        }
        canvas
      }
    // pixel bytes → luma
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val off = y * (rowBytes + 1) + 1
      var x = 0
      while (x < w) {
        // high byte of each sample (stride 1 = the sample itself)
        val base = off + x * bpp
        val l = colorType match {
          case 0 => u8(raw, base)
          case 2 => lum(u8(raw, base), u8(raw, base + stride),
            u8(raw, base + 2 * stride))
          case 3 =>
            val i = u8(raw, base)
            if (i * 3 + 2 >= plte.length) return None
            lum(u8(plte, i * 3), u8(plte, i * 3 + 1), u8(plte, i * 3 + 2))
          case 6 => lum(u8(raw, base), u8(raw, base + stride),
            u8(raw, base + 2 * stride))
        }
        px(y * w + x) = l
        x += 1
      }
      y += 1
    }
    Some(Gray(w, h, px))
  }

  /** The sub-byte decode path: defilter at bpp 1 (sequential or per
    * Adam7 pass), unpack MSB-first samples, map to luma. */
  private def decodeSubByte(b: Array[Byte], idat: Array[Byte], w: Int,
      h: Int, colorType: Int, depth: Int, interlaced: Boolean,
      plte: Array[Byte]): Option[Gray] = {
    val maxv = (1 << depth) - 1
    val scale = 255 / maxv // exact for depths 1/2/4 (255 = 3·5·17)
    val px = new Array[Int](w * h)
    def rowB(wpx: Int): Int = (wpx * depth + 7) / 8
    def sample(raw: Array[Byte], rowOff: Int, x: Int): Int = {
      val bit = x * depth
      (u8(raw, rowOff + (bit >> 3)) >> (8 - depth - (bit & 7))) & maxv
    }
    def lumaOf(v: Int): Int =
      if (colorType == 0) v * scale
      else if (v * 3 + 2 >= plte.length) -1
      else lum(u8(plte, v * 3), u8(plte, v * 3 + 1), u8(plte, v * 3 + 2))
    if (!interlaced) {
      val rb = rowB(w)
      val raw = inflate(idat, (rb + 1) * h).getOrElse(return None)
      if (!defilter(raw, 0, h, rb, 1)) return None
      var y = 0
      while (y < h) {
        val off = y * (rb + 1) + 1
        var x = 0
        while (x < w) {
          val l = lumaOf(sample(raw, off, x))
          if (l < 0) return None
          px(y * w + x) = l
          x += 1
        }
        y += 1
      }
    } else {
      var total = 0
      var pi = 0
      while (pi < 7) {
        val (pw, ph) = a7Dims(pi, w, h)
        if (pw > 0 && ph > 0) total += (rowB(pw) + 1) * ph
        pi += 1
      }
      val pr = inflate(idat, total).getOrElse(return None)
      var off = 0
      pi = 0
      while (pi < 7) {
        val (pw, ph) = a7Dims(pi, w, h)
        if (pw > 0 && ph > 0) {
          val prb = rowB(pw)
          if (!defilter(pr, off, ph, prb, 1)) return None
          var j = 0
          while (j < ph) {
            val y = A7ys(pi) + j * A7yd(pi)
            val rowOff = off + j * (prb + 1) + 1
            var i = 0
            while (i < pw) {
              val l = lumaOf(sample(pr, rowOff, i))
              if (l < 0) return None
              px(y * w + A7xs(pi) + i * A7xd(pi)) = l
              i += 1
            }
            j += 1
          }
          off += (prb + 1) * ph
        }
        pi += 1
      }
    }
    Some(Gray(w, h, px))
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def inflate(z: Array[Byte], expect: Int): Option[Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(z)
      val out = new Array[Byte](expect)
      var off = 0
      while (off < expect && !inf.finished()) {
        val n = inf.inflate(out, off, expect - off)
        // n == 0 with needsInput = truncated stream; with
        // needsDictionary = zlib FDICT flag set (inflate would return 0
        // forever without a preset dictionary — reject, don't spin)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None
        off += n
      }
      if (off == expect) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Decode a 24-bit uncompressed bottom-up BMP (BITMAPINFOHEADER) to
    * luma via the same BT.601 weights as the PNG color modes (fixtures
    * write R=G=B, where the weights collapse to identity). */
  private[graft] def decodeBmp24(b: Array[Byte]): Option[Gray] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10).toInt
    if (le32(b, 14).toInt < 40) return None       // header size
    val w = le32(b, 18).toInt; val h = le32(b, 22).toInt
    if (le16(b, 26) != 1 || le16(b, 28) != 24 || le32(b, 30) != 0)
      return None                                  // planes/bpp/compression
    if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
    val stride = ((w * 3 + 3) / 4) * 4
    if (dataOff < 0 || dataOff.toLong + stride.toLong * h > b.length)
      return None
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val rowOff = dataOff + (h - 1 - y) * stride  // bottom-up rows
      var x = 0
      while (x < w) {
        px(y * w + x) = lum(u8(b, rowOff + x * 3 + 2),
          u8(b, rowOff + x * 3 + 1), u8(b, rowOff + x * 3))  // BGR order
        x += 1
      }
      y += 1
    }
    Some(Gray(w, h, px))
  }

  /** Pixel decode across the supported formats (PNG, BMP, baseline
    * JPEG — [[JpegCodec]] carries the DCT tier — GIF via [[GifCodec]]'s
    * LZW tier, and baseline TIFF via [[TiffCodec]]'s IFD/strip walk). */
  private[graft] def decodePixels(b: Array[Byte]): Option[Gray] =
    decodePng(b).orElse(decodeBmp24(b))
      .orElse(JpegCodec.decodeJpeg(b))
      .orElse(GifCodec.decodeGif(b))
      .orElse(TiffCodec.decodeTiff(b))
      .orElse(WebpCodec.decodeWebp(b))

  /** Downsample to an 8×8 luma grid (row-major, 64 ints) by BIN
    * PARTITION: pixel (x, y) belongs to cell (⌊8x/w⌋, ⌊8y/h⌋), each
    * cell is the floor average of its pixels. For dimensions divisible
    * by 8 the bins are exact tiles (the classic box average); for any
    * other size ≥ 8×8 the bins are the integer-area generalization
    * (what area-interpolation resamplers do), still deterministic
    * integer arithmetic — and exactly inverse to [[renderGridSized]],
    * which colors pixels by the SAME bin rule, so rendered fixtures at
    * ANY size recover their grid bit-for-bit. Images smaller than 8×8
    * have no meaningful 64-cell signature: None. */
  def lumaGrid8(g: Gray): Option[Array[Int]] = {
    if (g.width < 8 || g.height < 8) return None
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var y = 0
    while (y < g.height) {
      val by = y * 8 / g.height
      var x = 0
      while (x < g.width) {
        val cell = by * 8 + x * 8 / g.width
        sums(cell) += g.luma(y * g.width + x)
        cnts(cell) += 1
        x += 1
      }
      y += 1
    }
    val out = new Array[Int](64)
    var i = 0
    while (i < 64) { out(i) = (sums(i) / cnts(i)).toInt; i += 1 }
    Some(out)
  }

  /** 64-bit dHash over the 8×8 grid: bit (by·8+bx) is set when the
    * right neighbor (wrapping bx 7→0, so 8 gradients per row — the
    * 9×8-grid classic without a non-divisor 9th column) is strictly
    * brighter. Gradient signs survive brightness/contrast shifts; byte
    * identity does not — which is exactly the near-dup signal. */
  def dhash64(grid: Array[Int]): Long = {
    require(grid.length == 64, "dhash64 expects an 8x8 grid")
    var h = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (grid(by * 8 + (bx + 1) % 8) > grid(by * 8 + bx))
          h |= 1L << (by * 8 + bx)
        bx += 1
      }
      by += 1
    }
    h
  }

  /** Payload → perceptual hash in one step (None = not a supported
    * pixel format, or smaller than 8×8). */
  def phash(payload: Array[Byte]): Option[Long] =
    decodePixels(payload).flatMap(lumaGrid8).map(dhash64)

  // ---- encoders (fixture planting + spec round-trips) ----

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val td = typ.getBytes("US-ASCII") ++ data
    val crc = new CRC32; crc.update(td)
    be32b(data.length) ++ td ++ be32b(crc.getValue.toInt)
  }

  /** Apply `filterType` to every row of raw pixel bytes (rowBytes per
    * row) at the given bpp — the write side of the byte-wise filter
    * reversal, returning filter-byte-prefixed rows. */
  private def filteredRaw(rows: Array[Byte], rowBytes: Int, bpp: Int,
      filterType: Int): Array[Byte] = {
    require(filterType >= 0 && filterType <= 4, "PNG filter type 0-4")
    val h = rows.length / rowBytes
    val raw = new Array[Byte]((rowBytes + 1) * h)
    var y = 0
    while (y < h) {
      raw(y * (rowBytes + 1)) = filterType.toByte
      var x = 0
      while (x < rowBytes) {
        val cur = rows(y * rowBytes + x) & 0xff
        val a = if (x >= bpp) rows(y * rowBytes + x - bpp) & 0xff else 0
        val b = if (y > 0) rows((y - 1) * rowBytes + x) & 0xff else 0
        val c = if (x >= bpp && y > 0)
          rows((y - 1) * rowBytes + x - bpp) & 0xff else 0
        val f = filterType match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 => cur - paeth(a, b, c)
        }
        raw(y * (rowBytes + 1) + 1 + x) = (f & 0xff).toByte
        x += 1
      }
      y += 1
    }
    raw
  }

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val def_ = new Deflater()
    def_.setInput(raw); def_.finish()
    val buf = new Array[Byte](raw.length + 64)
    val zOut = new java.io.ByteArrayOutputStream()
    while (!def_.finished()) zOut.write(buf, 0, def_.deflate(buf))
    def_.end()
    zOut.toByteArray
  }

  /** Filter + deflate in one step — the sequential IDAT payload. */
  private def deflateFiltered(rows: Array[Byte], rowBytes: Int, bpp: Int,
      filterType: Int): Array[Byte] =
    deflateBytes(filteredRaw(rows, rowBytes, bpp, filterType))

  private def assemblePng(w: Int, h: Int, colorType: Int,
      plte: Option[Array[Byte]], idat: Array[Byte],
      textChunk: Option[String], depth: Int = 8,
      interlace: Int = 0): Array[Byte] = {
    val ihdr = chunk("IHDR",
      be32b(w) ++ be32b(h) ++
        Array[Byte](depth.toByte, colorType.toByte, 0, 0,
          interlace.toByte))
    val plteC = plte.map(chunk("PLTE", _)).getOrElse(Array.emptyByteArray)
    val text = textChunk.map(t =>
      chunk("tEXt", ("Comment " + t).getBytes("US-ASCII")))
      .getOrElse(Array.emptyByteArray)
    PngSig ++ ihdr ++ plteC ++ text ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Encode an 8-bit grayscale PNG. `filterType` picks the scanline
    * filter applied to EVERY row (0–4) — same pixels, different bytes,
    * which is what a re-encode does. `textChunk` plants an ancillary
    * tEXt chunk (metadata a stripper would remove). */
  def encodeGray8Png(g: Gray, filterType: Int = 0,
      textChunk: Option[String] = None): Array[Byte] = {
    val rows = new Array[Byte](g.width * g.height)
    var i = 0
    while (i < rows.length) { rows(i) = (g.luma(i) & 0xff).toByte; i += 1 }
    assemblePng(g.width, g.height, 0, None,
      deflateFiltered(rows, g.width, 1, filterType), textChunk)
  }

  /** Encode an Adam7-INTERLACED PNG — grayscale (default) or RGB via
    * [[colorize]] — with a different scanline filter per pass
    * (pass index mod 5, so all five filter types exercise the
    * per-pass reversal): each pass's sub-image is extracted on the
    * 8×8 tile pattern, filtered independently, and the passes deflate
    * as one stream (PNG spec §2/§6). Byte-distinct from every
    * sequential encode of the same pixels — the interlaced-variant
    * planting path. */
  def encodeAdam7Png(g: Gray, rgbSalt: Option[Int] = None): Array[Byte] = {
    val bpp = if (rgbSalt.isDefined) 3 else 1
    val all = new java.io.ByteArrayOutputStream()
    var pi = 0
    while (pi < 7) {
      val pw = (g.width - A7xs(pi) + A7xd(pi) - 1) / A7xd(pi)
      val ph = (g.height - A7ys(pi) + A7yd(pi) - 1) / A7yd(pi)
      if (pw > 0 && ph > 0) {
        val rows = new Array[Byte](pw * ph * bpp)
        var j = 0
        while (j < ph) {
          var i = 0
          while (i < pw) {
            val x = A7xs(pi) + i * A7xd(pi)
            val y = A7ys(pi) + j * A7yd(pi)
            val v = g.luma(y * g.width + x)
            val o = (j * pw + i) * bpp
            rgbSalt match {
              case Some(salt) =>
                val (r, gg, bb) = colorize(v, salt)
                rows(o) = r.toByte; rows(o + 1) = gg.toByte
                rows(o + 2) = bb.toByte
              case None => rows(o) = (v & 0xff).toByte
            }
            i += 1
          }
          j += 1
        }
        all.write(filteredRaw(rows, pw * bpp, bpp, pi % 5))
      }
      pi += 1
    }
    val idat = deflateBytes(all.toByteArray)
    assemblePng(g.width, g.height, if (rgbSalt.isDefined) 2 else 0,
      None, idat, None, interlace = 1)
  }

  /** Encode a 1/2/4-bit PNG (gray, or palette with [[colorize]]d
    * entries), sequential or Adam7-interlaced — the sub-byte spec
    * round-trip path. Gray luma values must be multiples of
    * 255/(2^depth−1); palette images must carry ≤ 2^depth distinct
    * lumas. */
  def encodeSubBytePng(g: Gray, depth: Int, palette: Boolean = false,
      interlaced: Boolean = false, filterType: Int = 0,
      salt: Int = 7): Array[Byte] = {
    require(depth == 1 || depth == 2 || depth == 4)
    val maxv = (1 << depth) - 1
    val scale = 255 / maxv
    val (toSample, plteOpt): (Int => Int, Option[Array[Byte]]) =
      if (!palette) {
        require(g.luma.forall(v => v % scale == 0 && v / scale <= maxv),
          s"gray luma must be multiples of $scale")
        (v => v / scale, None)
      } else {
        val values = g.luma.distinct.sorted
        require(values.length <= (1 << depth),
          s"palette depth $depth holds <= ${1 << depth} colors")
        val index = values.zipWithIndex.toMap
        val plte = new Array[Byte](values.length * 3)
        for (i <- values.indices) {
          val (r, gg, bb) = colorize(values(i), salt)
          plte(i * 3) = r.toByte; plte(i * 3 + 1) = gg.toByte
          plte(i * 3 + 2) = bb.toByte
        }
        (v => index(v), Some(plte))
      }
    def rowB(wpx: Int): Int = (wpx * depth + 7) / 8
    def pack(get: Int => Int, wpx: Int, hpx: Int): Array[Byte] = {
      val rb = rowB(wpx)
      val rows = new Array[Byte](rb * hpx)
      var y = 0
      while (y < hpx) {
        var x = 0
        while (x < wpx) {
          val bit = x * depth
          val off = y * rb + (bit >> 3)
          rows(off) = (rows(off) |
            (toSample(get(y * wpx + x)) << (8 - depth - (bit & 7)))).toByte
          x += 1
        }
        y += 1
      }
      rows
    }
    val idat =
      if (!interlaced)
        deflateFiltered(pack(i => g.luma(i), g.width, g.height),
          rowB(g.width), 1, filterType)
      else {
        val all = new java.io.ByteArrayOutputStream()
        var pi = 0
        while (pi < 7) {
          val pw = (g.width - A7xs(pi) + A7xd(pi) - 1) / A7xd(pi)
          val ph = (g.height - A7ys(pi) + A7yd(pi) - 1) / A7yd(pi)
          if (pw > 0 && ph > 0) {
            val get = (i: Int) => {
              val x = A7xs(pi) + (i % pw) * A7xd(pi)
              val y = A7ys(pi) + (i / pw) * A7yd(pi)
              g.luma(y * g.width + x)
            }
            all.write(filteredRaw(pack(get, pw, ph), rowB(pw), 1, pi % 5))
          }
          pi += 1
        }
        deflateBytes(all.toByteArray)
      }
    assemblePng(g.width, g.height, if (palette) 3 else 0, plteOpt,
      idat, None, depth = depth, interlace = if (interlaced) 1 else 0)
  }

  /** Encode a 16-bit grayscale PNG with both sample bytes = v (i.e.
    * the 16-bit value v·257, the spec's exact 8→16 rescale), so the
    * high-byte decode recovers `g.luma` exactly — the bit-depth
    * variant planting path. Filters still apply byte-wise at bpp 2. */
  def encodeGray16Png(g: Gray, filterType: Int = 0): Array[Byte] = {
    val rows = new Array[Byte](g.width * g.height * 2)
    var i = 0
    while (i < g.luma.length) {
      val v = (g.luma(i) & 0xff).toByte
      rows(i * 2) = v; rows(i * 2 + 1) = v
      i += 1
    }
    assemblePng(g.width, g.height, 0, None,
      deflateFiltered(rows, g.width * 2, 2, filterType), None,
      depth = 16)
  }

  /** Deterministic color triple with EXACT luma `v` under [[lum]]:
    * r and b are salt-spread, then g is the unique value putting
    * 77r + 150g + 29b in [256v, 256v + 149] — so (…) >> 8 = v and a
    * colorized rendering of a gray scene decodes to the scene's exact
    * luma (falls back to gray when the g solution leaves 0–255). */
  def colorize(v: Int, salt: Int): (Int, Int, Int) = {
    val r = (v + 97 * (salt + 1)) % 256
    val b = (v + 53 * (salt + 2)) % 256
    val g = Math.floorDiv(256 * v - 77 * r - 29 * b + 149, 150)
    if (g >= 0 && g <= 255) (r, g, b) else (v, v, v)
  }

  /** Encode an 8-bit RGB (color type 2) PNG whose BT.601 luma equals
    * `g.luma` exactly — the color-variant planting path. */
  def encodeRgbPng(g: Gray, salt: Int, filterType: Int = 0,
      textChunk: Option[String] = None): Array[Byte] = {
    val rows = new Array[Byte](g.width * g.height * 3)
    var i = 0
    while (i < g.luma.length) {
      val (r, gg, b) = colorize(g.luma(i), salt)
      rows(i * 3) = r.toByte; rows(i * 3 + 1) = gg.toByte
      rows(i * 3 + 2) = b.toByte
      i += 1
    }
    assemblePng(g.width, g.height, 2, None,
      deflateFiltered(rows, g.width * 3, 3, filterType), textChunk)
  }

  /** Encode an 8-bit RGBA (color type 6) PNG — color from [[colorize]],
    * alpha a deterministic ramp the luma decode must ignore. */
  def encodeRgbaPng(g: Gray, salt: Int): Array[Byte] = {
    val rows = new Array[Byte](g.width * g.height * 4)
    var i = 0
    while (i < g.luma.length) {
      val (r, gg, b) = colorize(g.luma(i), salt)
      rows(i * 4) = r.toByte; rows(i * 4 + 1) = gg.toByte
      rows(i * 4 + 2) = b.toByte
      rows(i * 4 + 3) = ((i * 31 + 7) % 256).toByte
      i += 1
    }
    assemblePng(g.width, g.height, 6, None,
      deflateFiltered(rows, g.width * 4, 4, 0), None)
  }

  /** Encode an 8-bit palette (color type 3) PNG: the palette holds one
    * colorized entry per distinct luma value (≤ 256 always), pixels
    * are indices — the indexed-color variant planting path. */
  def encodePalettePng(g: Gray, salt: Int = 7): Array[Byte] = {
    val values = g.luma.distinct.sorted
    val index = values.zipWithIndex.toMap
    val plte = new Array[Byte](values.length * 3)
    var i = 0
    while (i < values.length) {
      val (r, gg, b) = colorize(values(i), salt)
      plte(i * 3) = r.toByte; plte(i * 3 + 1) = gg.toByte
      plte(i * 3 + 2) = b.toByte
      i += 1
    }
    val rows = new Array[Byte](g.width * g.height)
    i = 0
    while (i < rows.length) { rows(i) = index(g.luma(i)).toByte; i += 1 }
    assemblePng(g.width, g.height, 3, Some(plte),
      deflateFiltered(rows, g.width, 1, 0), None)
  }

  /** Encode a 24-bit bottom-up BMP with R=G=B=luma (the format-
    * conversion variant of the same image). */
  def encodeBmp24(g: Gray): Array[Byte] = {
    val w = g.width; val h = g.height
    val stride = ((w * 3 + 3) / 4) * 4
    val dataLen = stride * h
    val out = new java.io.ByteArrayOutputStream(54 + dataLen)
    out.write("BM".getBytes("US-ASCII"))
    out.write(le32b(54 + dataLen)); out.write(le32b(0)); out.write(le32b(54))
    out.write(le32b(40)); out.write(le32b(w)); out.write(le32b(h))
    out.write(le16b(1)); out.write(le16b(24)); out.write(le32b(0))
    out.write(le32b(dataLen))
    out.write(le32b(2835)); out.write(le32b(2835))  // 72 dpi
    out.write(le32b(0)); out.write(le32b(0))
    val row = new Array[Byte](stride)
    var y = h - 1
    while (y >= 0) {                                 // bottom-up
      java.util.Arrays.fill(row, 0.toByte)
      var x = 0
      while (x < w) {
        val l = g.luma(y * w + x).toByte
        row(x * 3) = l; row(x * 3 + 1) = l; row(x * 3 + 2) = l
        x += 1
      }
      out.write(row)
      y -= 1
    }
    out.toByteArray
  }

  /** Render an 8×8 block grid at `size`×`size` pixels (size ÷ 8): each
    * grid cell paints a constant tile, so box-averaging ANY rendering
    * back to 8×8 recovers the grid exactly — the property that makes
    * resized fixture variants hash-identical and the oracle exact. */
  def renderGrid(grid: Array[Int], size: Int): Gray = {
    require(grid.length == 64 && size % 8 == 0 && size > 0)
    renderGridSized(grid, size, size)
  }

  /** Render an 8×8 block grid at ANY w×h ≥ 8×8: pixel (x, y) takes the
    * grid cell (⌊8x/w⌋, ⌊8y/h⌋) — the SAME bin rule [[lumaGrid8]]
    * partitions by, so every bin is single-valued and the resample
    * recovers the grid exactly at non-divisible sizes too (the
    * odd-dimension variant planting path). */
  def renderGridSized(grid: Array[Int], w: Int, h: Int): Gray = {
    require(grid.length == 64 && w >= 8 && h >= 8)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) { px(y * w + x) = grid(by * 8 + x * 8 / w); x += 1 }
      y += 1
    }
    Gray(w, h, px)
  }

  /** The fixture scene formula — md5-mixed block luma, shared verbatim
    * by the Scala planting and (as hex-digit ascii arithmetic) the
    * DuckDB oracle: luma(scene, bx, by) = first byte of
    * md5("{scene}_{bx}_{by}"). md5 mixing makes distinct scenes
    * near-orthogonal in dHash space (expected Hamming distance 32),
    * so banding never accidentally links two scenes. */
  def sceneLuma(scene: Long, bx: Int, by: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"${scene}_${bx}_${by}".getBytes("UTF-8"))(0) & 0xff
  }

  /** The full 8×8 scene grid for a scene id. */
  def sceneGrid(scene: Long): Array[Int] = {
    val g = new Array[Int](64)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) { g(by * 8 + bx) = sceneLuma(scene, bx, by); bx += 1 }
      by += 1
    }
    g
  }
}
