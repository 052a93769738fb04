package graft.multimodal

/** GIF pixel decode for the perceptual-hash tier — REAL LZW decode
  * with no codec library: header + logical-screen-descriptor walk,
  * global/local color tables, extension-block skipping, sub-block
  * reassembly, and the variable-width LZW decoder (clear/end codes,
  * dictionary growth to 4096, 12-bit cap) per the GIF89a
  * specification. Palette colors collapse to luma through the same
  * integer BT.601 weights as the PNG palette mode
  * ([[PixelCodec.lum]]), so a GIF rendering of a gray scene decodes
  * to the scene's exact luma — GIF is lossless over its palette,
  * which makes round trips exact on ANY image whose distinct colors
  * fit one 256-entry table. Interlaced images deinterlace through the
  * 4-pass Appendix-E row schedule on both decode paths. Multi-frame
  * animations decode their FIRST image descriptor as a standalone
  * still through [[decodeGif]]; the full animation decodes through
  * [[decodeGifFrames]] — the animated walker composites each frame's
  * sub-rectangle over the logical-screen canvas with real GIF89a
  * semantics (graphic-control extensions, transparency index, all
  * four disposal methods — none/keep/restore-background/
  * restore-previous).
  *
  * Hostile-input discipline matches [[PixelCodec]]: decode never
  * throws — truncated sub-blocks, codes beyond the dictionary,
  * missing color tables, or oversized dimensions return None.
  */
object GifCodec {
  import PixelCodec.Gray

  import Bytes.{LsbBitReader, LsbBitWriter, le16, le16b, u8}

  /** GIF89a Appendix-E interlace row schedule: the stream carries rows
    * in four passes (every 8th from 0, every 8th from 4, every 4th
    * from 2, every 2nd from 1); entry r is the DISPLAY row of the r-th
    * stream row. Shared by decode (deinterlace) and encode. */
  private def interlaceOrder(h: Int): Array[Int] = {
    val o = new Array[Int](h)
    var i = 0
    Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
      var y = start
      while (y < h) { o(i) = y; i += 1; y += step }
    }
    o
  }

  /** Decode the first (and only, for stills) image of a GIF87a/89a
    * stream to luma. */
  def decodeGif(b: Array[Byte]): Option[Gray] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Gray] = {
    if (b.length < 13) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    var p = 6
    p += 4 // logical screen w/h (the image descriptor carries its own)
    val packed = u8(b, p); p += 3 // packed, bg index, aspect
    var globalCt: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (p + 3 * n > b.length) return None
      globalCt = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    while (p < b.length) {
      u8(b, p) match {
        case 0x3b => return None // trailer before any image
        case 0x21 =>             // extension: label + sub-blocks
          p += 2
          var done = false
          while (!done) {
            if (p >= b.length) return None
            val n = u8(b, p); p += 1 + n
            if (n == 0) done = true
          }
        case 0x2c =>             // image descriptor
          if (p + 10 > b.length) return None
          val w = le16(b, p + 5); val h = le16(b, p + 7)
          val ipacked = u8(b, p + 9)
          p += 10
          var ct = globalCt
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            if (p + 3 * n > b.length) return None
            ct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
            p += 3 * n
          }
          if (ct == null || w <= 0 || h <= 0 ||
              w.toLong * h > (1L << 26)) return None
          if (p >= b.length) return None
          val minCode = u8(b, p); p += 1
          if (minCode < 2 || minCode > 11) return None
          // reassemble the LZW stream from its sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (p >= b.length) return None
            val n = u8(b, p); p += 1
            if (n == 0) done = true
            else {
              if (p + n > b.length) return None
              data.write(b, p, n); p += n
            }
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h)
            .getOrElse(return None)
          val rowOf =
            if ((ipacked & 0x40) != 0) interlaceOrder(h)
            else Array.tabulate(h)(identity)
          val px = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val ci = idx(y * w + x)
              if (ci * 3 + 2 >= ct.length) return None
              px(rowOf(y) * w + x) = PixelCodec.lum(u8(ct, ci * 3),
                u8(ct, ci * 3 + 1), u8(ct, ci * 3 + 2))
              x += 1
            }
            y += 1
          }
          return Some(Gray(w, h, px))
        case _ => return None
      }
    }
    None
  }

  /** Variable-width LZW decode (GIF flavor): clear = 2^min, end =
    * clear+1, width grows when the next assignable code crosses a
    * power of two, capped at 12 bits. Returns exactly `expect`
    * indices or None. */
  private def lzwDecode(data: Array[Byte], minCode: Int,
      expect: Int): Option[Array[Int]] = {
    val clear = 1 << minCode
    val end = clear + 1
    // dictionary as (prefix code, appended index); roots are implicit
    val prefix = new Array[Int](4096)
    val append = new Array[Int](4096)
    var nextCode = end + 1
    var width = minCode + 1
    val out = new Array[Int](expect)
    var outN = 0
    val r = new LsbBitReader(data, 0, data.length) // running dry raises
    var prev = -1
    val buf = new Array[Int](4096) // expansion scratch (max chain)

    def expand(code: Int): Int = { // writes chain into buf, returns len
      var c = code; var n = 0
      while (c >= clear) {         // composite codes only
        if (n >= buf.length) return -1
        buf(n) = append(c); n += 1
        c = prefix(c)
      }
      buf(n) = c; n + 1
    }

    while (outN < expect) {
      val code = r.bits(width)
      if (code > nextCode || code == end) return None
      if (code == clear) {
        nextCode = end + 1; width = minCode + 1; prev = -1
      } else {
        var len = 0
        var first = 0
        if (code == nextCode) {
          // the KwKwK case: code not yet in the dictionary
          if (prev < 0) return None
          len = expand(prev)
          if (len < 0) return None
          first = buf(len - 1)
          // chain = prev ++ first(prev): emit prev then its first idx
          var i = 0
          while (i < len && outN < expect) {
            out(outN) = buf(len - 1 - i); outN += 1; i += 1
          }
          if (outN < expect) { out(outN) = first; outN += 1 }
        } else {
          len = expand(code)
          if (len < 0) return None
          first = buf(len - 1)
          var i = 0
          while (i < len && outN < expect) {
            out(outN) = buf(len - 1 - i); outN += 1; i += 1
          }
        }
        if (prev >= 0 && nextCode < 4096) {
          prefix(nextCode) = prev
          append(nextCode) = first
          nextCode += 1
          // the decoder assigns one entry BEHIND the encoder (classic
          // LZW lag), so it grows at nextCode == 2^width while the
          // encoder grows at 2^width + 1 — the pair is synchronized
          if (width < 12 && nextCode == (1 << width)) width += 1
        }
        prev = code
      }
    }
    Some(out)
  }

  /** Decode every frame of a GIF87a/89a stream to full-canvas luma
    * images with real animation semantics: each image descriptor's
    * sub-rectangle composites over the logical-screen canvas
    * (initialized to the background color), honoring the preceding
    * graphic-control extension's transparency index (transparent
    * pixels leave the canvas untouched) and disposal method — 0/1
    * leave the composite in place, 2 restores the rectangle to the
    * background color, 3 restores the whole canvas to its pre-frame
    * state; interlaced frames deinterlace through the shared
    * row schedule. A still (no GCE, one
    * full-canvas descriptor) decodes as a 1-frame animation, so the
    * walker subsumes [[decodeGif]] semantically; the still entry point
    * stays separate because it reads the descriptor's own dimensions
    * (the planted-fixture contract) rather than the logical screen's.
    * Hostile inputs never throw — they return None. */
  def decodeGifFrames(b: Array[Byte],
      maxFrames: Int = 256): Option[Vector[Gray]] =
    try decodeFrames0(b, maxFrames)
    catch { case _: RuntimeException => None }

  private def decodeFrames0(b: Array[Byte],
      maxFrames: Int): Option[Vector[Gray]] = {
    if (b.length < 13) return None
    val sig = new String(b, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val cw = le16(b, 6); val ch = le16(b, 8)
    if (cw <= 0 || ch <= 0 || cw.toLong * ch > (1L << 24)) return None
    val packed = u8(b, 10)
    val bgIndex = u8(b, 11)
    var p = 13
    var globalCt: Array[Byte] = null
    if ((packed & 0x80) != 0) {
      val n = 2 << (packed & 7)
      if (p + 3 * n > b.length) return None
      globalCt = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
      p += 3 * n
    }
    val bgLuma =
      if (globalCt != null && bgIndex * 3 + 2 < globalCt.length)
        PixelCodec.lum(u8(globalCt, bgIndex * 3),
          u8(globalCt, bgIndex * 3 + 1), u8(globalCt, bgIndex * 3 + 2))
      else 0
    val canvas = Array.fill(cw * ch)(bgLuma)
    val frames = Vector.newBuilder[Gray]
    var nFrames = 0
    // pending graphic-control state (consumed by the next descriptor)
    var transIdx = -1
    var disposal = 0
    while (p < b.length) {
      u8(b, p) match {
        case 0x3b =>
          return if (nFrames > 0) Some(frames.result()) else None
        case 0x21 =>
          val label = if (p + 1 < b.length) u8(b, p + 1) else return None
          p += 2
          var firstBlock: Array[Byte] = null
          var done = false
          while (!done) {
            if (p >= b.length) return None
            val n = u8(b, p)
            if (n == 0) { p += 1; done = true }
            else {
              if (p + 1 + n > b.length) return None
              if (firstBlock == null)
                firstBlock = java.util.Arrays.copyOfRange(b, p + 1, p + 1 + n)
              p += 1 + n
            }
          }
          if (label == 0xf9 && firstBlock != null && firstBlock.length >= 4) {
            val gp = firstBlock(0) & 0xff
            disposal = (gp >> 2) & 7
            transIdx = if ((gp & 1) != 0) firstBlock(3) & 0xff else -1
          }
        case 0x2c =>
          if (nFrames >= maxFrames) return None
          if (p + 10 > b.length) return None
          val left = le16(b, p + 1); val top = le16(b, p + 3)
          val w = le16(b, p + 5); val h = le16(b, p + 7)
          val ipacked = u8(b, p + 9)
          p += 10
          // disposal 3 (restore-previous): snapshot the canvas before
          // compositing, put it back after the frame is emitted
          val prevCanvas = if (disposal == 3) canvas.clone() else null
          var ct = globalCt
          if ((ipacked & 0x80) != 0) {
            val n = 2 << (ipacked & 7)
            if (p + 3 * n > b.length) return None
            ct = java.util.Arrays.copyOfRange(b, p, p + 3 * n)
            p += 3 * n
          }
          if (ct == null || w <= 0 || h <= 0 ||
              left + w > cw || top + h > ch) return None
          if (p >= b.length) return None
          val minCode = u8(b, p); p += 1
          if (minCode < 2 || minCode > 11) return None
          val data = new java.io.ByteArrayOutputStream()
          var done = false
          while (!done) {
            if (p >= b.length) return None
            val n = u8(b, p); p += 1
            if (n == 0) done = true
            else {
              if (p + n > b.length) return None
              data.write(b, p, n); p += n
            }
          }
          val idx = lzwDecode(data.toByteArray, minCode, w * h)
            .getOrElse(return None)
          val rowOf =
            if ((ipacked & 0x40) != 0) interlaceOrder(h)
            else Array.tabulate(h)(identity)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val ci = idx(y * w + x)
              if (ci != transIdx) {
                if (ci * 3 + 2 >= ct.length) return None
                canvas((top + rowOf(y)) * cw + (left + x)) =
                  PixelCodec.lum(u8(ct, ci * 3), u8(ct, ci * 3 + 1),
                    u8(ct, ci * 3 + 2))
              }
              x += 1
            }
            y += 1
          }
          frames += Gray(cw, ch, canvas.clone())
          nFrames += 1
          if (disposal == 2) {                   // restore to background
            var yy = 0
            while (yy < h) {
              var xx = 0
              while (xx < w) {
                canvas((top + yy) * cw + (left + xx)) = bgLuma; xx += 1
              }
              yy += 1
            }
          } else if (disposal == 3)              // restore to previous
            System.arraycopy(prevCanvas, 0, canvas, 0, canvas.length)
          transIdx = -1; disposal = 0
        case _ => return None
      }
    }
    None // ran off the end without a trailer: truncated
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  /** Colorized palette over a luma set ([[PixelCodec.colorize]], exact
    * under [[PixelCodec.lum]] — the [[PixelCodec.encodePalettePng]]
    * discipline): (table bytes, luma→index, table size bits). */
  private def buildPalette(values: Array[Int],
      salt: Int): (Array[Byte], Map[Int, Int], Int) = {
    require(values.length <= 256, "more than 256 distinct lumas")
    val index = values.zipWithIndex.toMap
    var ctBits = 2 // palette size = power of two >= max(4, values)
    while ((1 << ctBits) < values.length) ctBits += 1
    val ct = new Array[Byte](3 * (1 << ctBits))
    var i = 0
    while (i < values.length) {
      val (r, gg, bb) = PixelCodec.colorize(values(i), salt)
      ct(i * 3) = r.toByte; ct(i * 3 + 1) = gg.toByte
      ct(i * 3 + 2) = bb.toByte
      i += 1
    }
    (ct, index, ctBits)
  }

  /** Reorder display rows into the 4-pass interlace stream order. */
  private def interlaceRows(px: Array[Int], w: Int, h: Int): Array[Int] = {
    val order = interlaceOrder(h)
    val out = new Array[Int](px.length)
    var y = 0
    while (y < h) {
      System.arraycopy(px, order(y) * w, out, y * w, w); y += 1
    }
    out
  }

  /** Encode luma as a single-frame GIF89a with a colorized palette and
    * REAL LZW compression (dictionary growth, width escalation, 12-bit
    * cap with clear-code reset) — round trips are bit-exact.
    * `interlaced` writes the 4-pass Appendix-E row order. */
  def encodeGif(g: Gray, salt: Int = 7,
      interlaced: Boolean = false): Array[Byte] = {
    val (ct, index, ctBits) = buildPalette(g.luma.distinct.sorted, salt)
    val minCode = math.max(2, ctBits)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16b(g.width) ++ le16b(g.height))
    out.write(0x80 | (ctBits - 1)) // global table, 2^ctBits entries
    out.write(0); out.write(0)
    out.write(ct)
    out.write(0x2c)                // image descriptor
    out.write(le16b(0) ++ le16b(0) ++ le16b(g.width) ++ le16b(g.height))
    out.write(if (interlaced) 0x40 else 0) // no local table
    out.write(minCode)
    val px = if (interlaced) interlaceRows(g.luma, g.width, g.height)
             else g.luma
    out.write(lzwEncode(px.map(index), minCode))
    out.write(0)                   // block terminator
    out.write(0x3b)                // trailer
    out.toByteArray
  }

  /** Encode an animation as a GIF89a the way real encoders do: frame 0
    * full-canvas over the global table; each later frame as the
    * BOUNDING RECTANGLE of pixels that changed since the previous
    * frame (when `deltaRect`), carried by its own LOCAL color table —
    * so decode exercises true sub-rectangle compositing, not just
    * full-frame replacement. Each frame gets a graphic-control
    * extension (disposal 1 = leave in place), and a NETSCAPE2.0 loop
    * extension rides after the header like any animated GIF in the
    * wild. All frames must share the canvas dimensions. `interlaced`
    * writes every frame's rect in the 4-pass Appendix-E row order. */
  def encodeGifAnimated(frames: Seq[Gray], salt: Int = 7,
      deltaRect: Boolean = true, interlaced: Boolean = false): Array[Byte] = {
    require(frames.nonEmpty, "at least one frame")
    val cw = frames.head.width; val ch = frames.head.height
    require(frames.forall(f => f.width == cw && f.height == ch),
      "uniform frame dimensions")
    val (gct, gIndex, gBits) = buildPalette(
      frames.head.luma.distinct.sorted, salt)
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(le16b(cw) ++ le16b(ch))
    out.write(0x80 | (gBits - 1))
    out.write(0); out.write(0)
    out.write(gct)
    // NETSCAPE2.0 application extension: loop forever
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); out.write(0); out.write(0); out.write(0)
    var prev: Gray = null
    frames.foreach { f =>
      // graphic-control extension: disposal 1, no transparency
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0x04); out.write(le16b(5)); out.write(0); out.write(0)
      val (left, top, w, h) =
        if (prev == null || !deltaRect) (0, 0, cw, ch)
        else {
          var x0 = cw; var y0 = ch; var x1 = -1; var y1 = -1
          var i = 0
          while (i < f.luma.length) {
            if (f.luma(i) != prev.luma(i)) {
              val x = i % cw; val y = i / cw
              if (x < x0) x0 = x
              if (x > x1) x1 = x
              if (y < y0) y0 = y
              if (y > y1) y1 = y
            }
            i += 1
          }
          if (x1 < 0) (0, 0, 1, 1) // no change: a 1x1 no-op rect
          else (x0, y0, x1 - x0 + 1, y1 - y0 + 1)
        }
      val rect = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          rect(y * w + x) = f.luma((top + y) * cw + (left + x)); x += 1
        }
        y += 1
      }
      val useLocal = prev != null // frame 0 rides the global table
      val (ct, index, ctBits) =
        if (useLocal) buildPalette(rect.distinct.sorted, salt)
        else (gct, gIndex, gBits)
      out.write(0x2c)
      out.write(le16b(left) ++ le16b(top) ++ le16b(w) ++ le16b(h))
      out.write((if (useLocal) 0x80 | (ctBits - 1) else 0) |
        (if (interlaced) 0x40 else 0))
      if (useLocal) out.write(ct)
      val minCode = math.max(2, ctBits)
      out.write(minCode)
      val body = if (interlaced) interlaceRows(rect, w, h) else rect
      out.write(lzwEncode(body.map(index), minCode))
      out.write(0)
      prev = f
    }
    out.write(0x3b)
    out.toByteArray
  }

  /** GIF LZW encode with a real growing dictionary, returned as
    * 255-byte sub-blocks. */
  private def lzwEncode(indices: Array[Int], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val end = clear + 1
    val w = new LsbBitWriter
    var width = minCode + 1
    def put(code: Int): Unit = w.bits(code, width)
    var dict = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    var nextCode = end + 1
    put(clear)
    var prev = -1
    var i = 0
    while (i < indices.length) {
      val k = indices(i)
      if (prev < 0) prev = k
      else dict.get((prev, k)) match {
        case Some(c) => prev = c
        case None =>
          put(prev)
          if (nextCode < 4096) {
            dict((prev, k)) = nextCode
            nextCode += 1
            // decoder grows width when ITS nextCode hits 2^width; the
            // encoder mirrors that boundary exactly
            if (width < 12 && nextCode == (1 << width) + 1) width += 1
          } else {
            put(clear)
            dict = scala.collection.mutable.HashMap.empty
            nextCode = end + 1
            width = minCode + 1
          }
          prev = k
      }
      i += 1
    }
    if (prev >= 0) put(prev)
    put(end)
    // wrap in 255-byte sub-blocks
    val raw = w.result()
    val out = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < raw.length) {
      val n = math.min(255, raw.length - off)
      out.write(n); out.write(raw, off, n)
      off += n
    }
    out.toByteArray
  }
}
