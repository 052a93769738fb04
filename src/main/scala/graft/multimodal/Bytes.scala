package graft.multimodal

import java.nio.charset.StandardCharsets.US_ASCII

/** Binary-format primitives shared by the codec tier (and the WARC
  * reader in [[graft.sources]]): unsigned endian reads and writes, one
  * MSB-first and one LSB-first bit reader/writer, a table-driven
  * MSB-first CRC, and the ISO-BMFF box and RIFF chunk walks.
  *
  * Reads never clamp: an index past the buffer (or a bit read past a
  * reader's window) raises, and each codec's `catch` turns that into
  * None — the hostile-input discipline every decoder documents.
  * Multi-byte reads come back unsigned: 32-bit values as `Long`, so a
  * size ≥ 2³¹ stays positive and fails the caller's bounds check.
  */
private[graft] object Bytes {

  // ---- unsigned reads ----

  def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  def be24(b: Array[Byte], i: Int): Int = (u8(b, i) << 16) | be16(b, i + 1)
  def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | be24(b, i + 1)
  def be64(b: Array[Byte], i: Int): Long = (be32(b, i) << 32) | be32(b, i + 4)
  def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  def le24(b: Array[Byte], i: Int): Int = le16(b, i) | (u8(b, i + 2) << 16)
  def le32(b: Array[Byte], i: Int): Long =
    le24(b, i).toLong | (u8(b, i + 3).toLong << 24)
  def fourcc(b: Array[Byte], i: Int): String = new String(b, i, 4, US_ASCII)

  // ---- writes (low bits of `v`) ----

  def be16b(v: Int): Array[Byte] = Array((v >> 8).toByte, v.toByte)
  def be32b(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
  def be64b(v: Long): Array[Byte] = be32b((v >>> 32).toInt) ++ be32b(v.toInt)
  def le16b(v: Int): Array[Byte] = Array(v.toByte, (v >> 8).toByte)
  def le24b(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)
  def le32b(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >>> 24).toByte)

  // ---- bit I/O ----

  private def pastEnd(until: Int): Nothing =
    throw new IndexOutOfBoundsException(s"bit read past byte $until")

  /** MSB-first bit reader over b[from, until): each byte's top bit comes
    * first (FLAC frames, TIFF LZW codes). Reads past `until` raise. */
  final class MsbBitReader(b: Array[Byte], from: Int, until: Int) {
    private var pos = from.toLong << 3 // absolute bit position

    /** The byte holding the next bit (the next whole byte once aligned). */
    def byteAt: Int = (pos >> 3).toInt
    def alignByte(): Unit = pos = (pos + 7) & ~7L

    /** Up to 64 bits as an unsigned value. */
    def bitsL(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        val i = (pos >> 3).toInt
        if (i >= until) pastEnd(until)
        val avail = 8 - (pos & 7).toInt
        val take = math.min(avail, left)
        v = (v << take) | ((u8(b, i) >> (avail - take)) & ((1 << take) - 1))
        pos += take
        left -= take
      }
      v
    }
    def bits(n: Int): Int = bitsL(n).toInt
    def bit(): Int = bitsL(1).toInt

    /** `n`-bit two's-complement value. */
    def signed(n: Int): Int = {
      val v = bits(n)
      if (n > 0 && (v & (1 << (n - 1))) != 0) v - (1 << n) else v
    }

    /** Count of 0 bits before the next 1 (Rice quotients); a run over
      * 2²⁴ raises rather than spinning through a hostile zero field. */
    def unary(): Int = {
      var q = 0
      while (bit() == 0) {
        q += 1
        if (q > (1 << 24)) throw new ArrayIndexOutOfBoundsException(q)
      }
      q
    }
  }

  /** LSB-first bit reader over b[from, until): each byte's low bit comes
    * first and a value's low bits are read first (VP8L, GIF LZW codes).
    * Reads past `until` raise. */
  final class LsbBitReader(b: Array[Byte], from: Int, until: Int) {
    private var pos = from.toLong << 3

    /** Up to 32 bits. */
    def bits(n: Int): Int = {
      var v = 0L
      var got = 0
      while (got < n) {
        val i = (pos >> 3).toInt
        if (i >= until) pastEnd(until)
        val off = (pos & 7).toInt
        val take = math.min(8 - off, n - got)
        v |= ((u8(b, i) >> off) & ((1 << take) - 1)).toLong << got
        pos += take
        got += take
      }
      v.toInt
    }
    def bit(): Int = bits(1)
  }

  /** MSB-first bit writer; the last byte is zero-padded. */
  final class MsbBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0

    /** The low `n` bits of `v` (n ≤ 64), top bit first. */
    def bits(v: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(8 - nb, left)
        acc = (acc << take) | ((v >>> (left - take)) & ((1 << take) - 1)).toInt
        nb += take
        left -= take
        if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
      }
    }
    def signed(v: Int, n: Int): Unit = bits(v & ((1L << n) - 1), n)
    def alignZero(): Unit = if (nb > 0) bits(0, 8 - nb)
    def result(): Array[Byte] = { alignZero(); out.toByteArray }
  }

  /** LSB-first bit writer; the last byte is zero-padded. */
  final class LsbBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nb = 0

    /** The low `n` bits of `v` (n ≤ 32), low bit first. */
    def bits(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nb
      nb += n
      while (nb >= 8) { out.write((acc & 0xff).toInt); acc >>>= 8; nb -= 8 }
    }
    def result(): Array[Byte] = {
      if (nb > 0) out.write((acc & 0xff).toInt)
      out.toByteArray
    }
  }

  // ---- CRC ----

  /** Unreflected (MSB-first) table CRC of `width` bits, 8 to 32, over
    * `poly`, with no final xor; `init` seeds the register. */
  final class Crc(width: Int, poly: Int) {
    require(width >= 8 && width <= 32)
    private val shift = width - 8
    private val mask = if (width == 32) -1 else (1 << width) - 1
    private val table: Array[Int] = Array.tabulate(256) { i =>
      var c = i << shift
      var k = 0
      while (k < 8) {
        c = if ((c & (1 << (width - 1))) != 0) (c << 1) ^ poly else c << 1
        k += 1
      }
      c & mask
    }

    def apply(b: Array[Byte], from: Int, until: Int, init: Int = 0): Int = {
      var c = init
      var i = from
      while (i < until) {
        c = ((c << 8) ^ table(((c >>> shift) ^ b(i)) & 0xff)) & mask
        i += 1
      }
      c
    }
  }

  /** FLAC frame-header CRC-8. */
  val Crc8 = new Crc(8, 0x07)
  /** FLAC frame CRC-16. */
  val Crc16 = new Crc(16, 0x8005)
  /** CRC-32 over 0x04c11db7: Ogg pages (RFC 3533, init 0) and MPEG-2
    * PSI sections (ISO 13818-1 Annex A, init all-ones). */
  val Crc32 = new Crc(32, 0x04c11db7)

  // ---- container walks ----

  /** One ISO-BMFF box at `p` in [p, until): (payloadStart, payloadEnd),
    * or None when malformed. Size 1 reads the 64-bit `largesize` (the
    * >4 GiB form DASH-era files use — the payload must still land in
    * this buffer); size 0 (to-end-of-file) rejects — an unbounded box
    * defeats the strict-extent discipline every tier here relies on. */
  def boxAt(b: Array[Byte], p: Int, until: Int): Option[(Int, Int)] = {
    if (p + 8 > until) return None
    val sz32 = be32(b, p)
    if (sz32 == 1) {
      if (p + 16 > until) return None
      val sz = be64(b, p + 8)
      if (sz < 16 || sz > until - p) return None
      Some((p + 16, p + sz.toInt))
    } else {
      if (sz32 < 8 || sz32 > until - p) return None
      Some((p + 8, p + sz32.toInt))
    }
  }

  /** The offset just past a leading ID3v2 tag — "ID3", version(2),
    * flags(1), syncsafe size(4), the tag body, and a 10-byte footer
    * when flag 0x10 is set — or 0 when the buffer has none. None when
    * the size is not syncsafe or the tag reaches the buffer's end. */
  def id3v2End(b: Array[Byte]): Option[Int] = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      return Some(0)
    var i = 6
    var size = 0
    while (i < 10) {
      if ((u8(b, i) & 0x80) != 0) return None // not syncsafe
      size = (size << 7) | u8(b, i)
      i += 1
    }
    val p = 10 + size + (if ((u8(b, 5) & 0x10) != 0) 10 else 0)
    if (p >= b.length) None else Some(p)
  }

  /** Walk the RIFF-style chunks in [from, until) in order, calling
    * `f(id, payloadStart, payloadEnd)` until it returns false. Chunks are
    * word-aligned: an odd size is followed by one pad byte. For a LIST
    * chunk the payload includes its 4-byte list type. `size` reads the
    * chunk's size field (AIFF's IFF chunks are big-endian). Returns false
    * when a declared size runs past `until` (truncated or hostile input),
    * true otherwise. */
  def riffChunks(b: Array[Byte], from: Int, until: Int,
      size: (Array[Byte], Int) => Long = le32)(
      f: (String, Int, Int) => Boolean): Boolean = {
    var p = from
    while (p + 8 <= until) {
      val sz = size(b, p + 4)
      if (p + 8 + sz > until) return false
      val end = p + 8 + sz.toInt
      if (!f(fourcc(b, p), p + 8, end)) return true
      p = end + (sz.toInt & 1)
    }
    true
  }

  /** One RIFF chunk: id, little-endian size, payload, pad to even. */
  def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val pad = if (payload.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
    id.getBytes(US_ASCII) ++ le32b(payload.length) ++ payload ++ pad
  }
}
