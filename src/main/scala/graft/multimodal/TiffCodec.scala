package graft.multimodal

/** Baseline TIFF decode for the perceptual-hash tier — the
  * scanned-document/archival format a real image corpus carries next
  * to PNG/JPEG/GIF/BMP: IFD tag walk in either byte order (II/MM),
  * strip-organized 8-bit grayscale (BlackIsZero AND WhiteIsZero) or
  * chunky RGB samples, uncompressed, PackBits (the TIFF 6.0
  * baseline's §9 RLE), zlib-Deflate (compression 8 / legacy 32946),
  * or LZW (§13, MSB-first with early change). Color collapses to luma through the same
  * BT.601 weights as every other format ([[PixelCodec.lum]]), so a
  * TIFF re-render of a PNG scene lands the identical pixels and joins
  * the md5-arithmetic oracles as a cross-format copy.
  *
  * Hostile-input discipline matches the codec tier: decode never
  * throws — truncated IFDs, tag values/strips past the buffer,
  * unsupported photometrics/compressions/bit depths, PackBits runs
  * overrunning their strip, or dimension overflow return None.
  *
  * Reference provenance: the reference pipeline treats media blobs as
  * opaque payloads (backfill_user_profiles.py:144-153); the format
  * walk is the public TIFF 6.0 baseline specification.
  */
object TiffCodec {
  import PixelCodec.{Gray, lum}

  import Bytes.{MsbBitReader, MsbBitWriter, be16, be16b, be32, be32b, le16,
    le16b, le32, le32b}

  /** Reads in the file's byte order (II = little-, MM = big-endian). */
  private final class Reader(b: Array[Byte], le: Boolean) {
    def u16(i: Int): Int = if (le) le16(b, i) else be16(b, i)
    def u32(i: Int): Long = if (le) le32(b, i) else be32(b, i)
    def ok(i: Long, n: Long): Boolean = i >= 0 && i + n <= b.length
  }

  private val TWidth = 256
  private val THeight = 257
  private val TBits = 258
  private val TCompression = 259
  private val TPhotometric = 262
  private val TStripOffsets = 273
  private val TSamplesPerPixel = 277
  private val TRowsPerStrip = 278
  private val TStripByteCounts = 279
  private val TPlanarConfig = 284

  /** One parsed IFD entry: tag, field type, count, and the offset of
    * the value bytes (inline in the entry when they fit in 4 bytes,
    * else at the pointed-to location — the TIFF value-offset rule). */
  private case class Entry(tag: Int, typ: Int, count: Long, valueAt: Int)

  private def typeSize(typ: Int): Int = typ match {
    case 1 | 2 | 6 | 7 => 1   // BYTE/ASCII/SBYTE/UNDEFINED
    case 3 | 8 => 2           // SHORT/SSHORT
    case 4 | 9 | 11 => 4      // LONG/SLONG/FLOAT
    case 5 | 10 | 12 => 8     // RATIONAL/SRATIONAL/DOUBLE
    case _ => 0
  }

  /** Decode a baseline TIFF to luma. None on anything outside the
    * supported envelope or malformed. */
  def decodeTiff(b: Array[Byte]): Option[Gray] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  private def decode0(b: Array[Byte]): Option[Gray] = {
    if (b.length < 8) return None
    val le =
      if (b(0) == 'I' && b(1) == 'I') true
      else if (b(0) == 'M' && b(1) == 'M') false
      else return None
    val r = new Reader(b, le)
    if (r.u16(2) != 42) return None
    val ifdOff = r.u32(4)
    if (!r.ok(ifdOff, 2)) return None
    val ifd = ifdOff.toInt
    val nEntries = r.u16(ifd)
    if (!r.ok(ifd + 2, 12L * nEntries)) return None

    var entries = Map.empty[Int, Entry]
    var i = 0
    while (i < nEntries) {
      val at = ifd + 2 + 12 * i
      val tag = r.u16(at)
      val typ = r.u16(at + 2)
      val count = r.u32(at + 4)
      val sz = typeSize(typ)
      if (sz == 0 || count < 0) return None
      val valueAt =
        if (sz * count <= 4) at + 8
        else {
          val off = r.u32(at + 8)
          if (!r.ok(off, sz * count)) return None
          off.toInt
        }
      entries += tag -> Entry(tag, typ, count, valueAt)
      i += 1
    }

    // scalar value (first element) of a SHORT/LONG entry
    def scalar(tag: Int): Option[Long] = entries.get(tag).flatMap { e =>
      e.typ match {
        case 3 => Some(r.u16(e.valueAt).toLong)
        case 4 => Some(r.u32(e.valueAt))
        case _ => None
      }
    }
    // full SHORT/LONG array of an entry
    def array(tag: Int): Option[Array[Long]] = entries.get(tag).flatMap { e =>
      e.typ match {
        case 3 => Some(Array.tabulate(e.count.toInt)(j =>
          r.u16(e.valueAt + 2 * j).toLong))
        case 4 => Some(Array.tabulate(e.count.toInt)(j =>
          r.u32(e.valueAt + 4 * j)))
        case _ => None
      }
    }

    val w = scalar(TWidth).getOrElse(return None)
    val h = scalar(THeight).getOrElse(return None)
    if (w <= 0 || h <= 0 || w * h > (1L << 26)) return None
    val spp = scalar(TSamplesPerPixel).getOrElse(1L)
    if (spp != 1 && spp != 3) return None
    val photometric = scalar(TPhotometric).getOrElse(return None)
    val gray = photometric == 0 || photometric == 1
    if (!gray && photometric != 2) return None
    if (gray && spp != 1) return None
    if (photometric == 2 && spp != 3) return None
    // all samples must be 8-bit
    val bits = array(TBits).getOrElse(Array(1L))
    if (bits.length != spp || bits.exists(_ != 8)) return None
    val compression = scalar(TCompression).getOrElse(1L)
    // 1 = none, 32773 = PackBits, 8/32946 = zlib Deflate (Adobe/old),
    // 5 = LZW (TIFF 6.0 §13, MSB-first with early change)
    if (compression != 1 && compression != 32773 &&
        compression != 8 && compression != 32946 &&
        compression != 5) return None
    if (scalar(TPlanarConfig).getOrElse(1L) != 1) return None

    val rowsPerStrip = scalar(TRowsPerStrip).getOrElse(h)
    if (rowsPerStrip <= 0) return None
    val nStrips = ((h + rowsPerStrip - 1) / rowsPerStrip).toInt
    val offsets = array(TStripOffsets).getOrElse(return None)
    val counts = array(TStripByteCounts).getOrElse(return None)
    if (offsets.length != nStrips || counts.length != nStrips) return None

    val rowBytes = (w * spp).toInt
    val px = new Array[Byte](rowBytes * h.toInt)
    var filled = 0
    var s = 0
    while (s < nStrips) {
      val stripRows = math.min(rowsPerStrip, h - s * rowsPerStrip).toInt
      val need = stripRows * rowBytes
      if (!r.ok(offsets(s), counts(s))) return None
      if (compression == 1) {
        if (counts(s) < need) return None
        System.arraycopy(b, offsets(s).toInt, px, filled, need)
      } else if (compression == 8 || compression == 32946) {
        if (!inflateStrip(b, offsets(s).toInt, counts(s).toInt,
            px, filled, need)) return None
      } else if (compression == 5) {
        if (!unLzw(b, offsets(s).toInt,
            (offsets(s) + counts(s)).toInt, px, filled, need))
          return None
      } else {
        val got = unpackBits(b, offsets(s).toInt,
          (offsets(s) + counts(s)).toInt, px, filled, need)
        if (!got) return None
      }
      filled += need
      s += 1
    }

    val out = new Array[Int]((w * h).toInt)
    var p = 0
    val n = out.length
    while (p < n) {
      out(p) =
        if (spp == 1) {
          val v = px(p) & 0xff
          if (photometric == 0) 255 - v else v   // WhiteIsZero inverts
        } else lum(px(p * 3) & 0xff, px(p * 3 + 1) & 0xff,
          px(p * 3 + 2) & 0xff)
      p += 1
    }
    Some(Gray(w.toInt, h.toInt, out))
  }

  // ---- LZW (TIFF 6.0 §13) ----
  //
  // MSB-first variable-width codes starting at 9 bits, ClearCode 256
  // / EOI 257, and TIFF's "early change": the width bumps when the
  // NEXT free entry reaches 2^width − 1 (one code earlier than GIF's
  // LSB-first variant in [[GifCodec]] — the classic off-by-one that
  // made early writers incompatible, standardized as mandatory by
  // TIFF 6.0 and libtiff).

  /** LZW-decode one strip into `out[at, at+need)`; strict: EOI must
    * land exactly `need` bytes (input ending before EOI raises). */
  private def unLzw(b: Array[Byte], from: Int, until: Int,
      out: Array[Byte], at: Int, need: Int): Boolean = {
    val r = new MsbBitReader(b, from, until)
    var width = 9
    val table = new Array[Array[Byte]](4096)
    var i = 0
    while (i < 256) { table(i) = Array(i.toByte); i += 1 }
    var next = 258
    var prev: Array[Byte] = null
    var got = 0
    var code = r.bits(width)
    while (code != 257) {
      if (code == 256) {                   // clear
        next = 258; width = 9; prev = null
      } else {
        val entry =
          if (code < next && code != 257 && table(code) != null)
            table(code)
          else if (code == next && prev != null) prev :+ prev(0)
          else return false                // code past the table
        if (got + entry.length > need) return false
        System.arraycopy(entry, 0, out, at + got, entry.length)
        got += entry.length
        if (prev != null && next < 4096) {
          table(next) = prev :+ entry(0)
          next += 1
        }
        if (next == (1 << width) - 1 && width < 12) width += 1
        prev = entry
      }
      code = r.bits(width)
    }
    got == need
  }

  /** LZW-encode one strip (encoder side of compression 5), resetting
    * the dictionary with a ClearCode whenever it fills. */
  private def lzwStrip(raw: Array[Byte], from: Int,
      len: Int): Array[Byte] = {
    val w = new MsbBitWriter
    var width = 9
    def write(code: Int): Unit = w.bits(code, width)
    var dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    var next = 258
    def reset(): Unit = { dict = scala.collection.mutable.HashMap.empty
      next = 258; width = 9 }
    write(256)                             // leading ClearCode (§13)
    var cur = Vector.empty[Byte]
    var curCode = -1
    var i = from
    while (i < from + len) {
      val c = raw(i)
      val ext = cur :+ c
      val hit = if (cur.isEmpty) Some(c & 0xff) else dict.get(ext)
      hit match {
        case Some(code) =>
          cur = ext; curCode = code
        case None =>
          write(curCode)
          if (next < 4094) {
            dict(ext) = next; next += 1
            // the encoder's table runs ONE entry ahead of the
            // decoder's (the decoder's first add lags a code), so the
            // early-change points reconcile as: encoder bumps at
            // 2^w, decoder at 2^w − 1 (libtiff's MAXCODE(n)−1)
            if (next == (1 << width) && width < 12) width += 1
          } else {
            write(256); reset()
          }
          cur = Vector(c); curCode = c & 0xff
      }
      i += 1
    }
    if (curCode >= 0) write(curCode)
    write(257)                             // EOI
    w.result()
  }

  /** Zlib-Deflate one strip (encoder side of compression 8). */
  private def deflateStrip(raw: Array[Byte], from: Int,
      len: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw, from, len)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(len / 2 + 16)
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Zlib-Deflate (TIFF compression 8 / legacy 32946) decode of one
    * strip: the stream must inflate to EXACTLY `need` bytes —
    * truncated or malformed streams fail the whole image. */
  private def inflateStrip(b: Array[Byte], from: Int, len: Int,
      out: Array[Byte], at: Int, need: Int): Boolean = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, from, len)
      var got = 0
      while (got < need && !inf.finished()) {
        val n = inf.inflate(out, at + got, need - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return false                     // truncated / preset-dict
        got += n
      }
      got == need
    } catch {
      case _: java.util.zip.DataFormatException => false
    } finally inf.end()
  }

  /** PackBits (TIFF 6.0 §9) decode of one strip into `out[at,
    * at+need)`: n in 0..127 copies n+1 literals, n in -127..-1 repeats
    * the next byte 1-n times, -128 is a no-op. False when the control
    * stream overruns the strip or produces the wrong byte count. */
  private def unpackBits(b: Array[Byte], from: Int, until: Int,
      out: Array[Byte], at: Int, need: Int): Boolean = {
    var p = from
    var o = at
    val end = at + need
    while (o < end) {
      if (p >= until) return false
      val n = b(p); p += 1
      if (n >= 0) {
        val cnt = n + 1
        if (p + cnt > until || o + cnt > end) return false
        System.arraycopy(b, p, out, o, cnt)
        p += cnt; o += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        if (p >= until || o + cnt > end) return false
        java.util.Arrays.fill(out, o, o + cnt, b(p))
        p += 1; o += cnt
      }
    }
    o == end
  }

  // ---- encoder (fixture planting + spec round-trips) ----

  /** PackBits encode of one strip, emitting maximal repeat runs (≥2)
    * and literal spans. */
  private def packBits(raw: Array[Byte], from: Int, len: Int):
      Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = from
    val end = from + len
    while (i < end) {
      var run = 1
      while (i + run < end && run < 128 && raw(i + run) == raw(i)) run += 1
      if (run >= 2) {
        out.write(1 - run)                 // -(run-1)
        out.write(raw(i))
        i += run
      } else {
        val start = i
        i += 1
        var lit = 1
        while (i < end && lit < 128 &&
            !(i + 1 < end && raw(i + 1) == raw(i))) {
          i += 1; lit += 1
        }
        out.write(lit - 1)
        out.write(raw, start, lit)
      }
    }
    out.toByteArray
  }

  /** Encode luma as a baseline TIFF. `rgbSalt` emits chunky RGB
    * channels via [[PixelCodec.colorize]] (luma-exact color, the same
    * salt law as the color PNG/GIF fixtures); None emits 8-bit
    * grayscale. `littleEndian` selects II vs MM; `packBitsComp`
    * compresses every strip; `whiteIsZero` (grayscale only) stores
    * 255−v under photometric 0 — the inverted-scan convention the
    * decoder must undo. Strips of `rowsPerStrip` rows exercise the
    * multi-strip walk; the strip tables go out-of-line whenever there
    * is more than one strip (the value-offset rule). */
  def encodeTiff(g: Gray, rgbSalt: Option[Int] = None,
      littleEndian: Boolean = true, packBitsComp: Boolean = false,
      rowsPerStrip: Int = 16, whiteIsZero: Boolean = false,
      deflateComp: Boolean = false,
      lzwComp: Boolean = false): Array[Byte] = {
    require(rowsPerStrip >= 1)
    require(!(whiteIsZero && rgbSalt.isDefined))
    require(Seq(packBitsComp, deflateComp, lzwComp).count(identity) <= 1)
    val spp = if (rgbSalt.isDefined) 3 else 1
    val rowBytes = g.width * spp
    val raw = new Array[Byte](rowBytes * g.height)
    var i = 0
    while (i < g.luma.length) {
      rgbSalt match {
        case Some(salt) =>
          val (r, gg, bb) = PixelCodec.colorize(g.luma(i), salt)
          raw(i * 3) = r.toByte; raw(i * 3 + 1) = gg.toByte
          raw(i * 3 + 2) = bb.toByte
        case None =>
          raw(i) = (if (whiteIsZero) 255 - g.luma(i) else g.luma(i)).toByte
      }
      i += 1
    }
    val nStrips = (g.height + rowsPerStrip - 1) / rowsPerStrip
    val strips = Array.tabulate(nStrips) { s =>
      val rows = math.min(rowsPerStrip, g.height - s * rowsPerStrip)
      val from = s * rowsPerStrip * rowBytes
      if (packBitsComp) packBits(raw, from, rows * rowBytes)
      else if (deflateComp) deflateStrip(raw, from, rows * rowBytes)
      else if (lzwComp) lzwStrip(raw, from, rows * rowBytes)
      else java.util.Arrays.copyOfRange(raw, from, from + rows * rowBytes)
    }

    val le = littleEndian
    def b16(v: Int): Array[Byte] = if (le) le16b(v) else be16b(v)
    def b32(v: Int): Array[Byte] = if (le) le32b(v) else be32b(v)

    // layout: 8-byte header, IFD (10 tags), [bits array], [strip
    // tables when >1 strip], strip data
    val nTags = 10
    val ifdAt = 8
    var extraAt = ifdAt + 2 + 12 * nTags + 4
    val bitsAt = if (spp == 3) { val a = extraAt; extraAt += 6; a } else 0
    val tablesAt =
      if (nStrips > 1) { val a = extraAt; extraAt += 8 * nStrips; a }
      else 0
    val dataAt = extraAt
    val stripOffs = new Array[Int](nStrips)
    var off = dataAt
    for (s <- 0 until nStrips) { stripOffs(s) = off; off += strips(s).length }
    val counts = strips.map(_.length)

    def entry(tag: Int, typ: Int, count: Int, value: Array[Byte]):
        Array[Byte] = {
      val v = value ++ Array.fill[Byte](4 - value.length)(0)
      b16(tag) ++ b16(typ) ++ b32(count) ++ v
    }
    def stripEntry(tag: Int, first: Int, tableAt: Int): Array[Byte] =
      if (nStrips == 1) entry(tag, 4, 1, b32(first))
      else entry(tag, 4, nStrips, b32(tableAt))

    val entriesArr: Array[Array[Byte]] = Array(
      entry(TWidth, 4, 1, b32(g.width)),
      entry(THeight, 4, 1, b32(g.height)),
      if (spp == 3) entry(TBits, 3, 3, b32(bitsAt))
      else entry(TBits, 3, 1, b16(8)),
      entry(TCompression, 3, 1,
        b16(if (packBitsComp) 32773 else if (deflateComp) 8
            else if (lzwComp) 5 else 1)),
      entry(TPhotometric, 3, 1,
        b16(if (spp == 3) 2 else if (whiteIsZero) 0 else 1)),
      stripEntry(TStripOffsets, stripOffs(0), tablesAt),
      entry(TSamplesPerPixel, 3, 1, b16(spp)),
      entry(TRowsPerStrip, 4, 1, b32(rowsPerStrip)),
      stripEntry(TStripByteCounts, counts(0), tablesAt + 4 * nStrips),
      entry(TPlanarConfig, 3, 1, b16(1)))

    val out = new java.io.ByteArrayOutputStream()
    out.write((if (le) "II" else "MM").getBytes("US-ASCII"))
    out.write(b16(42)); out.write(b32(ifdAt))
    out.write(b16(nTags))
    entriesArr.foreach(out.write)
    out.write(b32(0))                      // next IFD
    if (spp == 3) { out.write(b16(8)); out.write(b16(8)); out.write(b16(8)) }
    if (nStrips > 1) {
      stripOffs.foreach(v => out.write(b32(v)))
      counts.foreach(v => out.write(b32(v)))
    }
    strips.foreach(out.write)
    out.toByteArray
  }
}
