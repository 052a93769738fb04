package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.{Mp4Codec, OggCodec}

/** The Ogg/Vorbis digest tier: CRC-verified page walk, packet
  * reassembly across 255-continuations, re-pagination invariance (the
  * canonical Ogg duplicate), and the strict-grammar / hostile-input
  * discipline. */
class OggCodecSpec extends AnyFunSuite {

  test("re-paginated copies fingerprint identically; pages never " +
      "leak into content") {
    val a = OggCodec.encodeOgg(75L, 4, packetsPerPage = 2)
    val b = OggCodec.encodeOgg(75L, 4, packetsPerPage = 1,
      splitAcrossPages = true)
    val c = OggCodec.encodeOgg(75L, 4, packetsPerPage = 4)
    assert(!a.sameElements(b) && !b.sameElements(c))
    val da = OggCodec.decodeOggDigest(a).get
    val db = OggCodec.decodeOggDigest(b).get
    val dc = OggCodec.decodeOggDigest(c).get
    assert(da.channels === 1 && da.sampleRate === 8000)
    assert(da.packetDigests.length === 4)
    assert(da.packetDigests === db.packetDigests)
    assert(da.fingerprint === db.fingerprint)
    assert(da.fingerprint === dc.fingerprint)
    // different content / packet counts → different fingerprints
    assert(da.fingerprint !==
      OggCodec.decodeOggDigest(OggCodec.encodeOgg(76L, 4)).get
        .fingerprint)
    assert(da.fingerprint !==
      OggCodec.decodeOggDigest(OggCodec.encodeOgg(75L, 3)).get
        .fingerprint)
    // the RE-TAGGED twins: a rewritten Vorbis comment header or
    // OpusTags vendor string is setup, not content — byte-distinct,
    // the fingerprint must not move
    val retagged = OggCodec.encodeOgg(75L, 4,
      commentText = Some("ARTIST=someone-else;YEAR=2026"))
    assert(!retagged.sameElements(a))
    assert(OggCodec.decodeOggDigest(retagged).get.fingerprint ===
      da.fingerprint)
    val opus = OggCodec.decodeOggDigest(OggCodec.encodeOpus(75L, 4)).get
    val opusRetag = OggCodec.decodeOggDigest(OggCodec.encodeOpus(75L, 4,
      vendorText = Some("opustags-rewrite"))).get
    assert(opusRetag.fingerprint === opus.fingerprint)
  }

  test("the digest matches the oracle formula") {
    val d = OggCodec.decodeOggDigest(OggCodec.encodeOgg(100L, 2)).get
    val head = "ogg:100:1:" + Mp4Codec.md5Hex("g100_1".getBytes("UTF-8"))
    val payload = head + "." * (300 - head.length)
    assert(d.packetDigests(1) ===
      Mp4Codec.md5Hex(payload.getBytes("US-ASCII")))
    assert(d.fingerprint === Mp4Codec.md5Hex(
      d.packetDigests.mkString("").getBytes("US-ASCII")))
  }

  test("packets longer than 255 reassemble through multi-lacing and " +
      "cross-page continuation") {
    // 700-byte packets force [255,255,190] lacing; the split form adds
    // a genuine cross-page 255-continuation
    val plain = OggCodec.encodeOgg(9L, 3, packetLen = 700)
    val split = OggCodec.encodeOgg(9L, 3, packetLen = 700,
      packetsPerPage = 1, splitAcrossPages = true)
    val dp = OggCodec.decodeOggDigest(plain).get
    val ds = OggCodec.decodeOggDigest(split).get
    assert(dp.fingerprint === ds.fingerprint)
    assert(dp.packetDigests.length === 3)
  }

  test("Opus streams decode with RFC 7845 ident metadata and " +
      "re-paginated copies fingerprint identically") {
    val a = OggCodec.encodeOpus(50L, 3, packetsPerPage = 2)
    val b = OggCodec.encodeOpus(50L, 3, packetsPerPage = 1,
      splitAcrossPages = true)
    assert(!a.sameElements(b))
    val da = OggCodec.decodeOggDigest(a).get
    val db = OggCodec.decodeOggDigest(b).get
    assert(da.codec === "opus")
    assert(da.channels === 2 && da.sampleRate === 48000)
    assert(da.packetDigests.length === 3)
    assert(da.fingerprint === db.fingerprint)
    // the oracle formula: packet payload "opus:{scene}:{k}:" +
    // md5("o{scene}_{k}") dot-padded to 300
    val head = "opus:50:1:" + Mp4Codec.md5Hex("o50_1".getBytes("UTF-8"))
    assert(da.packetDigests(1) === Mp4Codec.md5Hex(
      (head + "." * (300 - head.length)).getBytes("US-ASCII")))
    // vorbis and opus fixture key spaces are disjoint
    assert(da.fingerprint !==
      OggCodec.decodeOggDigest(OggCodec.encodeOgg(50L, 3)).get
        .fingerprint)
  }

  test("a multiplexed (grouped) copy demuxes per serial and " +
      "fingerprints onto its plain primary") {
    val plain = OggCodec.encodeOpus(75L, 4)
    val mux = OggCodec.encodeOpusMultiplexed(75L, 4)
    assert(!plain.sameElements(mux))
    val dp = OggCodec.decodeOggDigest(plain).get
    val dm = OggCodec.decodeOggDigest(mux).get
    assert(dm.codec === "opus")
    assert(dp.fingerprint === dm.fingerprint)
    assert(dp.packetDigests === dm.packetDigests)
    // grouped-file strictness: truncation at every byte still drops
    // the whole file (a cut always loses an EOS page or breaks a
    // CRC/extent in one of the sibling streams)
    var n = 0
    while (n < mux.length) {
      assert(OggCodec.decodeOggDigest(mux.take(n)).isEmpty, s"@$n")
      n += 1
    }
  }

  test("hostile idents and demux shapes reject") {
    val good = OggCodec.encodeOpus(9L, 2)
    // version with a major bump (high nibble) rejects; minor is fine
    def patchIdent(at: Int, v: Int): Option[OggCodec.OggStream] = {
      val m = good.clone()
      // page 0: 28-byte header (1 lacing entry) then OpusHead; the
      // ident byte sits at 28 + at, and the page CRC must be redone
      m(28 + at) = v.toByte
      val pageEnd = 28 + (m(26 + 1) & 0xff)
      val c = OggCodec.pageCrc(m, 0, pageEnd)
      m(22) = (c & 0xff).toByte
      m(23) = ((c >> 8) & 0xff).toByte
      m(24) = ((c >> 16) & 0xff).toByte
      m(25) = ((c >>> 24) & 0xff).toByte
      OggCodec.decodeOggDigest(m)
    }
    assert(patchIdent(8, 0x11).isEmpty)    // major version 1
    assert(patchIdent(8, 0x02).isDefined)  // minor bump tolerated
    assert(patchIdent(9, 0).isEmpty)       // zero channels
    // a file whose only stream has an unrecognized ident is not an
    // audio file — None, even though every page verifies
    val metaOnly = {
      // reuse the multiplexed encoder's meta sibling alone by
      // stripping the audio serial's pages
      val mux = OggCodec.encodeOpusMultiplexed(9L, 2)
      val pages = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      var p = 0
      while (p < mux.length) {
        val nSegs = mux(p + 26) & 0xff
        var bodyLen = 0
        var i = 0
        while (i < nSegs) { bodyLen += mux(p + 27 + i) & 0xff; i += 1 }
        val end = p + 27 + nSegs + bodyLen
        pages += java.util.Arrays.copyOfRange(mux, p, end)
        p = end
      }
      def serialOf(pg: Array[Byte]): Long =
        (pg(14) & 0xffL) | ((pg(15) & 0xffL) << 8) |
          ((pg(16) & 0xffL) << 16) | ((pg(17) & 0xffL) << 24)
      pages.filter(pg => serialOf(pg) == 0x6d657461L).toArray.flatten
    }
    assert(OggCodec.decodeOggDigest(metaOnly).isEmpty)
    // a mixed-codec chain (vorbis link then opus link) rejects
    val vorb = OggCodec.encodeOgg(9L, 2)
    assert(OggCodec.decodeOggDigest(
      vorb ++ OggCodec.encodeOpus(9L, 2)).isEmpty)
    // a chain boundary is only legal once the current link is fully
    // closed: append a second file after cutting the first's final
    // (EOS) page away
    def lastPageAt(x: Array[Byte]): Int = {
      var at = -1
      var i = 0
      while (i < x.length - 4) {
        if (x(i) == 'O' && x(i + 1) == 'g' && x(i + 2) == 'g' &&
            x(i + 3) == 'S') at = i
        i += 1
      }
      at
    }
    val unclosed = vorb.take(lastPageAt(vorb))
    assert(OggCodec.decodeOggDigest(
      unclosed ++ OggCodec.encodeOgg(10L, 2)).isEmpty)
  }

  test("chained files concatenate their links' packets; link " +
      "boundaries are framing") {
    val chained = OggCodec.encodeOggChained(30L, Seq(3, 2))
    val d = OggCodec.decodeOggDigest(chained).get
    assert(d.codec === "vorbis")
    assert(d.packetDigests.length === 5)
    // global packet indices: the chain digests equal one 5-packet run
    val head = "ogg:30:4:" + Mp4Codec.md5Hex("g30_4".getBytes("UTF-8"))
    assert(d.packetDigests(4) === Mp4Codec.md5Hex(
      (head + "." * (300 - head.length)).getBytes("US-ASCII")))
    // a re-paginated chained copy collapses
    val repag = OggCodec.encodeOggChained(30L, Seq(3, 2),
      packetsPerPage = 1, splitAcrossPages = true)
    assert(!chained.sameElements(repag))
    assert(OggCodec.decodeOggDigest(repag).get.fingerprint ===
      d.fingerprint)
    // a cut at the exact link boundary is a complete single-link
    // file — a DISTINCT (shorter) stream, not a collapse; any other
    // cut must be None
    val boundary = OggCodec.encodeOggChained(30L, Seq(3)).length
    val dPrefix = OggCodec.decodeOggDigest(chained.take(boundary))
    assert(dPrefix.exists(_.packetDigests.length == 3))
    assert(dPrefix.get.fingerprint !== d.fingerprint)
    var n = 0
    while (n < chained.length) {
      val r = OggCodec.decodeOggDigest(chained.take(n))
      if (n == boundary) assert(r.isDefined, s"@$n")
      else assert(r.isEmpty, s"@$n")
      n += 1
    }
  }

  // a raw page builder for shapes the fixture encoder never emits
  private def rawPage(serial: Long, seq: Long, flags: Int,
      packets: Seq[Array[Byte]]): Array[Byte] = {
    require(packets.forall(_.length < 255))
    val o = new java.io.ByteArrayOutputStream()
    o.write("OggS".getBytes("US-ASCII"))
    o.write(0); o.write(flags)
    for (_ <- 0 until 8) o.write(0)        // granule
    def le(v: Long): Unit = {
      o.write((v & 0xff).toInt); o.write(((v >> 8) & 0xff).toInt)
      o.write(((v >> 16) & 0xff).toInt); o.write(((v >> 24) & 0xff).toInt)
    }
    le(serial); le(seq); le(0)
    o.write(packets.length)
    packets.foreach(p => o.write(p.length))
    packets.foreach(p => o.write(p, 0, p.length))
    val page = o.toByteArray
    val c = OggCodec.pageCrc(page, 0, page.length)
    page(22) = (c & 0xff).toByte
    page(23) = ((c >> 8) & 0xff).toByte
    page(24) = ((c >> 16) & 0xff).toByte
    page(25) = ((c >>> 24) & 0xff).toByte
    page
  }

  private def vorbisIdent(channels: Int, rate: Int): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    o.write(1); o.write("vorbis".getBytes("US-ASCII"))
    def le(v: Int): Unit = {
      o.write(v & 0xff); o.write((v >> 8) & 0xff)
      o.write((v >> 16) & 0xff); o.write((v >>> 24) & 0xff)
    }
    le(0); o.write(channels); le(rate)
    le(0); le(rate * 16); le(0)
    o.write(0xb8); o.write(1)
    o.toByteArray
  }

  test("a BOS inside the opening BOS section is a grouped sibling, " +
      "never a chain boundary (the skeleton shape)") {
    // the skeleton shape: a single-page BOS+EOS METADATA stream (an
    // unrecognized ident) precedes the audio stream's BOS. Reading
    // the metadata page as a completed chain link would reject the
    // whole file (a link with no audio) — it must read as a grouped
    // sibling, with the audio stream the digest subject.
    val meta = rawPage(7L, 0L, 2 | 4,
      Seq("fishead-metadata".getBytes("US-ASCII")))
    val audio = OggCodec.encodeOgg(11L, 2)
    val da = OggCodec.decodeOggDigest(audio).get
    val grouped = OggCodec.decodeOggDigest(meta ++ audio).get
    assert(grouped.packetDigests === da.packetDigests)
    assert(grouped.fingerprint === da.fingerprint)
    // the ambiguous twin — the single-page complete stream carries a
    // VALID vorbis ident — still reads as grouped (never a chain
    // boundary), but a grouped link carrying a SECOND valid audio
    // stream of the SAME codec drops WHOLE: digesting only the first
    // would make `solo ++ audio` fingerprint identically to `solo`
    // alone, a false-positive collapse between byte-distinct audio
    val au = "solo-audio-packet".getBytes("US-ASCII")
    val solo = rawPage(7L, 0L, 2 | 4, Seq(
      vorbisIdent(1, 8000),
      (3.toByte +: "vorbis".getBytes("US-ASCII")) ++
        "c".getBytes :+ 1.toByte,
      (5.toByte +: "vorbis".getBytes("US-ASCII")) ++
        "s".getBytes :+ 1.toByte,
      au))
    assert(OggCodec.decodeOggDigest(solo)
      .exists(_.packetDigests == Vector(Mp4Codec.md5Hex(au))))
    assert(OggCodec.decodeOggDigest(solo ++ audio).isEmpty)
    // chaining still works once a data page has closed the BOS
    // section: audio THEN the single-page stream concatenates
    val chained = OggCodec.decodeOggDigest(audio ++ solo).get
    assert(chained.packetDigests ===
      da.packetDigests :+ Mp4Codec.md5Hex(au))
  }

  test("a malformed audio ident in a grouped file poisons the whole " +
      "file instead of falling through to a sibling stream") {
    // interleave two AUDIO streams: opus (serial A) + vorbis (serial
    // B), BOS pages first
    def pages(x: Array[Byte]): Seq[Array[Byte]] = {
      val out = Seq.newBuilder[Array[Byte]]
      var p = 0
      while (p < x.length) {
        val nSegs = x(p + 26) & 0xff
        var bodyLen = 0
        var i = 0
        while (i < nSegs) { bodyLen += x(p + 27 + i) & 0xff; i += 1 }
        val end = p + 27 + nSegs + bodyLen
        out += java.util.Arrays.copyOfRange(x, p, end)
        p = end
      }
      out.result()
    }
    val a = pages(OggCodec.encodeOpus(1L, 2))
    val b = pages(OggCodec.encodeOgg(2L, 2))
    val mux = new java.io.ByteArrayOutputStream()
    mux.write(a.head); mux.write(b.head)
    val ia = a.tail.iterator; val ib = b.tail.iterator
    while (ia.hasNext || ib.hasNext) {
      if (ia.hasNext) mux.write(ia.next())
      if (ib.hasNext) mux.write(ib.next())
    }
    val good = mux.toByteArray
    // uncorrupted: the FIRST audio stream in BOS order (opus) wins
    val d = OggCodec.decodeOggDigest(good).get
    assert(d.codec === "opus")
    // corrupt the opus ident's version byte (page 0 payload offset 8,
    // page body starts at 28) and re-CRC: the file must drop WHOLE —
    // not silently digest the vorbis sibling
    val m = good.clone()
    m(28 + 8) = 0x11
    val pageEnd = 28 + (m(27) & 0xff)
    val c = OggCodec.pageCrc(m, 0, pageEnd)
    m(22) = (c & 0xff).toByte
    m(23) = ((c >> 8) & 0xff).toByte
    m(24) = ((c >> 16) & 0xff).toByte
    m(25) = ((c >>> 24) & 0xff).toByte
    assert(OggCodec.decodeOggDigest(m).isEmpty)
  }

  test("strict grammar: CRC damage, lost pages, truncation, and " +
      "trailing bytes reject") {
    val good = OggCodec.encodeOgg(5L, 3)
    assert(OggCodec.decodeOggDigest(good).isDefined)
    // flip one payload byte: the page CRC must catch it
    val mut = good.clone()
    mut(good.length - 10) = (mut(good.length - 10) ^ 0x40).toByte
    assert(OggCodec.decodeOggDigest(mut).isEmpty)
    // truncation at every byte (a cut stream always loses the EOS
    // page or breaks a CRC/extent)
    var n = 0
    while (n < good.length) {
      assert(OggCodec.decodeOggDigest(good.take(n)).isEmpty, s"@$n")
      n += 1
    }
    // trailing bytes after the EOS page
    assert(OggCodec.decodeOggDigest(good ++ "x".getBytes).isEmpty)
    // a lost page: splice out the middle page (find the 3rd OggS)
    def nthPage(k: Int): Int = {
      var at = -1
      var c = 0
      var i = 0
      while (i < good.length - 4 && at < 0) {
        if (good(i) == 'O' && good(i + 1) == 'g' && good(i + 2) == 'g' &&
            good(i + 3) == 'S') { c += 1; if (c == k) at = i }
        i += 1
      }
      at
    }
    val p3 = nthPage(3); val p4 = nthPage(4)
    assert(p3 > 0 && p4 > p3)
    assert(OggCodec.decodeOggDigest(
      good.take(p3) ++ good.drop(p4)).isEmpty)
    // bad version byte
    val bv = good.clone(); bv(4) = 1
    assert(OggCodec.decodeOggDigest(bv).isEmpty)
    // non-Vorbis first packet
    assert(OggCodec.decodeOggDigest("OggS junk".getBytes).isEmpty)
    assert(OggCodec.decodeOggDigest(Array.empty[Byte]).isEmpty)
    // seeded fuzz never throws
    val r = new scala.util.Random(0x55)
    for (_ <- 0 until 300) {
      val junk = new Array[Byte](r.nextInt(400) + 4)
      r.nextBytes(junk)
      junk(0) = 'O'; junk(1) = 'g'; junk(2) = 'g'; junk(3) = 'S'
      OggCodec.decodeOggDigest(junk)
    }
  }

  test("Ogg-FLAC streams decode through the xiph mapping and " +
      "re-paginated/re-tagged copies fingerprint identically") {
    val plain = OggCodec.encodeOggFlac(23L, 4)
    val d0 = OggCodec.decodeOggDigest(plain).get
    assert(d0.codec === "flac")
    assert(d0.sampleRate === 44100)
    assert(d0.channels === 2)
    assert(d0.packetDigests.length === 4)
    // re-paginated + re-tagged (the metaflac shape): byte-distinct,
    // identical frames → the same fingerprint
    val re = OggCodec.encodeOggFlac(23L, 4, packetsPerPage = 1,
      splitAcrossPages = true,
      commentText = Some("metaflac-rewrite"))
    assert(!re.sameElements(plain))
    val d1 = OggCodec.decodeOggDigest(re).get
    assert(d1.packetDigests === d0.packetDigests)
    assert(d1.fingerprint === d0.fingerprint)
    // the digest matches the oracle formula
    def md5s(s: String) = Mp4Codec.md5Hex(s.getBytes("US-ASCII"))
    val head = "flac:23:0:" + md5s("f23_0")
    assert(d0.packetDigests.head ===
      md5s(head + "." * (300 - head.length)))
    // distinct scenes and the Vorbis family stay distinct
    assert(OggCodec.decodeOggDigest(OggCodec.encodeOggFlac(24L, 4))
      .get.fingerprint !== d0.fingerprint)
    assert(OggCodec.decodeOggDigest(OggCodec.encodeOgg(23L, 4)).get
      .fingerprint !== d0.fingerprint)
    // truncation (EOS page cut) drops whole
    assert(OggCodec.decodeOggDigest(
      plain.take(plain.length - 80)).isEmpty)
  }

  test("malformed Ogg-FLAC idents poison the file (the looksAudio " +
      "gate) instead of reading as tolerated siblings") {
    // corrupt the mapping major-version byte inside the BOS page
    // (body starts at 28: 0x7F F L A C maj ...) and re-CRC the page
    val good = OggCodec.encodeOggFlac(29L, 3)
    val m = good.clone()
    assert(m(28) === 0x7f.toByte)
    m(28 + 5) = 9
    val pageEnd = {
      val nSegs = m(26) & 0xff
      var bodyLen = 0
      var i = 0
      while (i < nSegs) { bodyLen += m(27 + i) & 0xff; i += 1 }
      27 + nSegs + bodyLen
    }
    val c = OggCodec.pageCrc(m, 0, pageEnd)
    m(22) = (c & 0xff).toByte
    m(23) = ((c >> 8) & 0xff).toByte
    m(24) = ((c >> 16) & 0xff).toByte
    m(25) = ((c >>> 24) & 0xff).toByte
    assert(OggCodec.decodeOggDigest(m).isEmpty)
    // a header packet whose declared block length lies also drops:
    // the VORBIS_COMMENT block header is the first 4 bytes of the
    // second packet (page 1's body) — shrink its length field
    val h = good.clone()
    var pages = 0
    var p2 = -1
    var i2 = 0
    while (i2 < h.length - 4 && p2 < 0) {
      if (h(i2) == 'O' && h(i2 + 1) == 'g' && h(i2 + 2) == 'g' &&
          h(i2 + 3) == 'S') { pages += 1; if (pages == 2) p2 = i2 }
      i2 += 1
    }
    assert(p2 > 0)
    val body2 = p2 + 27 + (h(p2 + 26) & 0xff)
    h(body2 + 3) = (h(body2 + 3) - 1).toByte
    val nSegs2 = h(p2 + 26) & 0xff
    var blen2 = 0
    var j2 = 0
    while (j2 < nSegs2) { blen2 += h(p2 + 27 + j2) & 0xff; j2 += 1 }
    val c2 = OggCodec.pageCrc(h, p2, body2 + blen2)
    h(p2 + 22) = (c2 & 0xff).toByte
    h(p2 + 23) = ((c2 >> 8) & 0xff).toByte
    h(p2 + 24) = ((c2 >> 16) & 0xff).toByte
    h(p2 + 25) = ((c2 >>> 24) & 0xff).toByte
    assert(OggCodec.decodeOggDigest(h).isEmpty)
  }
}
