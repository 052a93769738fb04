package graft.sources

/** WARC (ISO 28500) web-archive parsing for the crawl-ingest tier —
  * the container format every large-scale web corpus arrives in
  * (Common Crawl ships ~1 GB `.warc.gz` shards). Plain and gzipped
  * files (the standard one-gzip-member-per-record layout — JDK
  * GZIPInputStream walks concatenated members); record grammar:
  * `WARC/1.x` version line, CRLF-terminated named headers,
  * `Content-Length` bytes of block, CRLF CRLF separator. `response`
  * records additionally parse their HTTP/1.x message (status line,
  * headers, payload).
  *
  * Hostile-input discipline matches the codec tier: a structural
  * violation anywhere (bad version line, missing Content-Length,
  * block past the buffer, truncated gzip member, malformed HTTP
  * status) returns None for the WHOLE file — at 100 TB the drop
  * granularity is the shard, and a shard that fails its container
  * grammar is re-fetched, not half-read. Parse is one linear walk,
  * no regex, no copies beyond the per-record payload slice.
  *
  * Scale note: files are the parallelism unit (binaryFile ingest →
  * per-partition parse); ~1 GB shards fit executor memory by design.
  * The per-record gzip members leave room for a future sub-file
  * splittable streaming reader behind this same record type.
  *
  * Reference provenance: the reference ingests fetched HTTP payloads
  * row-at-a-time (fetch_and_store_raw_games.py:60-103); the container
  * grammar is the public ISO 28500 / WARC 1.1 specification.
  */
object WarcCodec {
  import graft.multimodal.Bytes.{le16, le32, u8}

  /** One parsed record. For `response` records the HTTP message is
    * unwrapped: `httpStatus`, the payload's `contentType`, and `body`
    * = the HTTP payload. Other types carry status 0 and the raw
    * block. */
  final case class WarcRecord(
      recordId: String,
      warcType: String,
      targetUri: String,
      warcDate: String,
      httpStatus: Int,
      contentType: String,
      body: Array[Byte])

  def parseWarc(b: Array[Byte]): Option[Vector[WarcRecord]] =
    try {
      val raw =
        if (b.length >= 2 && u8(b, 0) == 0x1f && u8(b, 1) == 0x8b)
          gunzipExact(b)
        else b
      parseRaw(raw)
    } catch { case _: Exception => None }

  /** Inflate concatenated gzip members (RFC 1952) STRICTLY: every
    * input byte must belong to a member — header (with the optional
    * FEXTRA/FNAME/FCOMMENT/FHCRC fields), raw-deflate stream, CRC32 +
    * ISIZE trailer — and members must tile the buffer exactly. The
    * JDK's GZIPInputStream silently treats trailing non-gzip bytes
    * after a valid member as end-of-stream, which would let a corrupt
    * tail parse as success; both the per-record shard layer and
    * `Content-Encoding: gzip` bodies share this one strict decode, so
    * trailing garbage, a truncated member, or a checksum mismatch
    * throws (→ the caller's whole-shard None). */
  private def gunzipExact(b: Array[Byte]): Array[Byte] = {
    def bad(): Nothing = throw new IllegalStateException("gzip")
    val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 4))
    var p = 0
    if (b.length < 18) bad()
    while (p < b.length) {
      if (p + 10 > b.length || u8(b, p) != 0x1f ||
          u8(b, p + 1) != 0x8b || u8(b, p + 2) != 8) bad()
      val flg = u8(b, p + 3)
      p += 10
      if ((flg & 4) != 0) {                // FEXTRA
        if (p + 2 > b.length) bad()
        p += 2 + le16(b, p)
      }
      def skipZString(): Unit = {
        while (p < b.length && b(p) != 0) p += 1
        if (p >= b.length) bad()
        p += 1
      }
      if ((flg & 8) != 0) skipZString()    // FNAME
      if ((flg & 16) != 0) skipZString()   // FCOMMENT
      if ((flg & 2) != 0) p += 2           // FHCRC
      if (p > b.length) bad()
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(b, p, b.length - p)
        val crc = new java.util.zip.CRC32
        val buf = new Array[Byte](1 << 16)
        var memberLen = 0L
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && !inf.finished()) bad()   // truncated member
          crc.update(buf, 0, n)
          out.write(buf, 0, n)
          memberLen += n
        }
        p = b.length - inf.getRemaining
        if (p + 8 > b.length) bad()
        if (le32(b, p) != crc.getValue ||
            le32(b, p + 4) != (memberLen & 0xffffffffL)) bad()
        p += 8
      } finally inf.end()
    }
    out.toByteArray
  }

  private def parseRaw(b: Array[Byte]): Option[Vector[WarcRecord]] = {
    val out = Vector.newBuilder[WarcRecord]
    var p = 0
    var n = 0
    while (p < b.length) {
      // skip inter-record CRLF padding
      while (p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n') p += 2
      if (p >= b.length) return someIf(out.result())
      val vEnd = lineEnd(b, p)
      if (vEnd < 0) return None
      val version = ascii(b, p, vEnd)
      if (version != "WARC/1.0" && version != "WARC/1.1") return None
      p = vEnd + 2
      // named headers until the empty line
      var typ = ""; var id = ""; var uri = ""; var date = ""
      var cType = ""; var cLen = -1L
      var open = true
      while (open) {
        val e = lineEnd(b, p)
        if (e < 0) return None
        if (e == p) { open = false; p += 2 }
        else {
          val line = ascii(b, p, e)
          val c = line.indexOf(':')
          if (c <= 0) return None
          val name = line.substring(0, c).trim.toLowerCase
          val value = line.substring(c + 1).trim
          name match {
            case "warc-type" => typ = value
            case "warc-record-id" => id = value
            case "warc-target-uri" => uri = value
            case "warc-date" => date = value
            case "content-type" => cType = value
            case "content-length" =>
              cLen = try value.toLong catch { case _: Exception => -1L }
            case _ => ()
          }
          p = e + 2
        }
      }
      if (typ.isEmpty || cLen < 0 || p + cLen > b.length) return None
      val block = java.util.Arrays.copyOfRange(b, p, (p + cLen).toInt)
      p = (p + cLen).toInt
      // the record terminator: exactly two CRLF, required even at EOF
      // (a record missing its terminator is a truncated shard)
      var crlf = 0
      while (crlf < 2 && p + 1 < b.length && b(p) == '\r' &&
          b(p + 1) == '\n') { crlf += 1; p += 2 }
      if (crlf < 2) return None
      n += 1
      if (n > 1000000) return None
      if (typ == "response" && cType.startsWith("application/http")) {
        parseHttp(block) match {
          case Some((status, payloadType, payload)) =>
            out += WarcRecord(id, typ, uri, date, status, payloadType,
              payload)
          case None => return None
        }
      } else out += WarcRecord(id, typ, uri, date, 0, cType, block)
    }
    someIf(out.result())
  }

  private def someIf(v: Vector[WarcRecord]): Option[Vector[WarcRecord]] =
    if (v.isEmpty) None else Some(v)

  /** HTTP/1.x response message → (status, content type, payload).
    * Real crawl responses deliver their bodies through the two wire
    * encodings RFC 9112 defines: `Transfer-Encoding: chunked` (hex
    * chunk-size lines, optional extensions/trailers) is spliced first,
    * then `Content-Encoding: gzip`/`deflate` is inflated — so the
    * surfaced payload is the REPRESENTATION, never wire bytes. An
    * unknown coding, malformed chunk grammar, bytes after the last
    * chunk, or a truncated compressed body fails the record (→ the
    * whole shard, per the container discipline above). */
  private def parseHttp(
      b: Array[Byte]): Option[(Int, String, Array[Byte])] = {
    val sEnd = lineEnd(b, 0)
    if (sEnd < 0) return None
    val statusLine = ascii(b, 0, sEnd)
    if (!statusLine.startsWith("HTTP/1.")) return None
    val parts = statusLine.split(" ")
    if (parts.length < 2) return None
    val status = try parts(1).toInt catch { case _: Exception => return None }
    if (status < 100 || status > 599) return None
    var p = sEnd + 2
    var cType = ""
    var cEnc = ""
    var tEnc = ""
    var open = true
    while (open) {
      val e = lineEnd(b, p)
      if (e < 0) return None
      if (e == p) { open = false; p += 2 }
      else {
        val line = ascii(b, p, e)
        val c = line.indexOf(':')
        if (c > 0) {
          val name = line.substring(0, c).trim.toLowerCase
          val value = line.substring(c + 1).trim
          name match {
            case "content-type" => cType = value
            case "content-encoding" => cEnc = value.toLowerCase
            case "transfer-encoding" => tEnc = value.toLowerCase
            case _ => ()
          }
        }
        p = e + 2
      }
    }
    val wire = java.util.Arrays.copyOfRange(b, p, b.length)
    val deChunked = tEnc match {
      case "" | "identity" => wire
      case "chunked" => deChunk(wire) match {
        case Some(d) => d
        case None => return None
      }
      case _ => return None
    }
    val body = cEnc match {
      case "" | "identity" => deChunked
      case "gzip" | "x-gzip" => gunzipExact(deChunked)
      case "deflate" => inflateDeflate(deChunked)
      case _ => return None
    }
    Some((status, cType, body))
  }

  /** Splice a `Transfer-Encoding: chunked` body (RFC 9112 §7.1):
    * hex size line (extensions after `;` ignored), CRLF, data, CRLF;
    * the 0-size last chunk, then trailer lines until the empty line.
    * The WARC block's Content-Length bounds the message exactly, so
    * anything after the trailer terminator — or a chunk running past
    * the block, a non-hex size, a missing CRLF — is None. */
  private def deChunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var p = 0
    while (true) {
      val e = lineEnd(b, p)
      if (e < 0) return None
      var sizeLine = ascii(b, p, e)
      val semi = sizeLine.indexOf(';')
      if (semi >= 0) sizeLine = sizeLine.substring(0, semi)
      sizeLine = sizeLine.trim
      if (sizeLine.isEmpty || sizeLine.length > 8 ||
          !sizeLine.forall(c => Character.digit(c, 16) >= 0)) return None
      val size = java.lang.Integer.parseInt(sizeLine, 16)
      p = e + 2
      if (size == 0) {
        // trailer section: header lines until the empty line, which
        // must close the block exactly
        while (true) {
          val t = lineEnd(b, p)
          if (t < 0) return None
          if (t == p)
            return if (p + 2 == b.length) Some(out.toByteArray) else None
          p = t + 2
        }
      }
      // Long arithmetic: an 8-hex-digit size like 7fffffff must be
      // rejected by this guard itself, not by a downstream overflow
      if (p.toLong + size.toLong + 2L > b.length) return None
      out.write(b, p, size)
      p += size
      if (b(p) != '\r' || b(p + 1) != '\n') return None
      p += 2
    }
    None // unreachable
  }

  /** Inflate a `Content-Encoding: deflate` body. RFC 9110 says
    * zlib-wrapped (RFC 1950), but real crawls frequently carry raw
    * deflate (the historic IIS/proxy bug) — try the spec form first,
    * fall back to raw. Both forms are STRICT: the stream must reach
    * its final block and consume every input byte (trailing garbage
    * or truncation throws → the whole-shard None). */
  private def inflateDeflate(b: Array[Byte]): Array[Byte] =
    try inflateExact(b, raw = false)
    catch { case _: Exception => inflateExact(b, raw = true) }

  private def inflateExact(b: Array[Byte], raw: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    try {
      inf.setInput(b)
      val out = new java.io.ByteArrayOutputStream(math.max(64, b.length * 4))
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished())
          throw new IllegalStateException("truncated deflate")
        out.write(buf, 0, n)
      }
      if (inf.getRemaining != 0)
        throw new IllegalStateException("trailing bytes after deflate")
      out.toByteArray
    } finally inf.end()
  }

  /** Index of the CR of the next CRLF at/after `from`; −1 when the
    * line never terminates (or a bare CR/LF violates the grammar). */
  private def lineEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i < b.length) {
      if (b(i) == '\r')
        return if (i + 1 < b.length && b(i + 1) == '\n') i else -1
      if (b(i) == '\n') return -1
      i += 1
    }
    -1
  }

  private def ascii(b: Array[Byte], from: Int, until: Int): String =
    new String(b, from, until - from, "US-ASCII")

  // ---- encoder (fixture side) ----

  /** One WARC record's bytes (uncompressed). */
  def encodeRecord(typ: String, id: String, uri: String, date: String,
      contentType: String, block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $typ\r\n")
    sb.append(s"WARC-Record-ID: $id\r\n")
    sb.append(s"WARC-Date: $date\r\n")
    if (uri.nonEmpty) sb.append(s"WARC-Target-URI: $uri\r\n")
    if (contentType.nonEmpty) sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${block.length}\r\n\r\n")
    val head = sb.toString.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream(
      head.length + block.length + 4)
    out.write(head); out.write(block)
    out.write("\r\n\r\n".getBytes("US-ASCII"))
    out.toByteArray
  }

  /** An HTTP response message wrapping `payload`. `gzipBody` delivers
    * it `Content-Encoding: gzip`, `deflateBody` as
    * `Content-Encoding: deflate` (zlib-wrapped, or the real-crawl
    * raw-deflate bug form when `rawDeflate`); `chunked` delivers the
    * (possibly coded) bytes as `Transfer-Encoding: chunked` with a
    * trailing chunk extension and a trailer header on the wire — the
    * real crawl delivery encodings, applied in RFC order (content
    * coding first, transfer coding outermost). */
  def encodeHttpResponse(status: Int, reason: String,
      contentType: String, payload: Array[Byte],
      gzipBody: Boolean = false, chunked: Boolean = false,
      deflateBody: Boolean = false,
      rawDeflate: Boolean = false): Array[Byte] = {
    require(!(gzipBody && deflateBody), "one content coding at a time")
    val encoded =
      if (gzipBody) {
        val bo = new java.io.ByteArrayOutputStream(payload.length)
        val gz = new java.util.zip.GZIPOutputStream(bo)
        gz.write(payload); gz.finish()
        bo.toByteArray
      } else if (deflateBody) {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION, rawDeflate)
        d.setInput(payload); d.finish()
        val bo = new java.io.ByteArrayOutputStream(payload.length)
        val buf = new Array[Byte](1 << 16)
        while (!d.finished()) bo.write(buf, 0, d.deflate(buf))
        d.end()
        bo.toByteArray
      } else payload
    val head = new StringBuilder
    head.append(s"HTTP/1.1 $status $reason\r\n")
    head.append(s"Content-Type: $contentType\r\n")
    if (gzipBody) head.append("Content-Encoding: gzip\r\n")
    if (deflateBody) head.append("Content-Encoding: deflate\r\n")
    if (chunked) head.append("Transfer-Encoding: chunked\r\n")
    else head.append(s"Content-Length: ${encoded.length}\r\n")
    head.append("\r\n")
    val out = new java.io.ByteArrayOutputStream(
      head.length + encoded.length + 64)
    out.write(head.toString.getBytes("UTF-8"))
    if (!chunked) out.write(encoded)
    else {
      // split at 100-byte chunks; first size line carries an
      // extension, the last chunk a trailer — both must be skipped
      var p = 0
      var first = true
      while (p < encoded.length) {
        val n = math.min(100, encoded.length - p)
        val ext = if (first) ";chk=fixture" else ""
        out.write(s"${n.toHexString}$ext\r\n".getBytes("US-ASCII"))
        out.write(encoded, p, n)
        out.write("\r\n".getBytes("US-ASCII"))
        p += n
        first = false
      }
      out.write("0\r\nX-Fixture-Trailer: 1\r\n\r\n".getBytes("US-ASCII"))
    }
    out.toByteArray
  }

  /** Concatenate records into a WARC file; `gzipped` wraps EACH
    * record in its own gzip member (the standard shard layout). */
  def encodeWarc(records: Seq[Array[Byte]],
      gzipped: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach { r =>
      if (gzipped) {
        val gz = new java.util.zip.GZIPOutputStream(out)
        gz.write(r); gz.finish()
      } else out.write(r)
    }
    out.toByteArray
  }
}
