package graft.multimodal

/** AVIF / HEIC still-image digest tier — the ISOBMFF *item* path
  * (ISO/IEC 23008-12 HEIF: `meta`/`pitm`/`iinf`/`iloc`/`iprp`), the
  * delivery shape of the modern `<img>` crawl (AVIF = AV1 item,
  * HEIC = HEVC item). Reference scope: knightshift stores media as
  * opaque URL rows (`scripts/seed_postgres.py:1`); the container
  * grammar here is public-spec work the 100 TB image tier needs.
  *
  * The documented tier CONTRACT follows [[Mp4Codec.decodeAvcDigest]]:
  * the coded item payload is NOT pixel-decoded — the walk surfaces
  * item metadata (codec from the infe item_type, dimensions from the
  * item's associated `ispe` property) plus ONE content digest: md5
  * over the primary item's coded bytes, resolved through the iloc
  * extent table and concatenated in extent order. Box layout, iloc
  * version/field widths, extent splits, and mdat-vs-idat carriage
  * are all CONTAINER FRAMING excluded from the digest — exactly the
  * invariance a re-boxed copy (same coded payload, different
  * packager) needs to collapse in exact dedup without an AV1/HEVC
  * decoder.
  *
  * Structural honesty (drop-whole): top-level boxes must tile the
  * file exactly; the brand must be a HEIF image brand; `hdlr` must
  * declare `pict`; the primary item must exist in `iinf` with a
  * recognized coded type (`av01`/`hvc1`) and protection 0; every
  * iloc extent must lie in bounds (a truncated extent drops the file
  * whole, never a partial digest); the item must carry an associated
  * `ispe` and its codec's config property (`av1C`/`hvcC`) through a
  * well-formed `ipma`; construction methods beyond file (0) and
  * idat (1) reject.
  *
  * Scale shape: same as the other digest tiers — a scan-side single
  * pass inside `mapPartitions`, ~60 B/item out, image bytes never
  * shuffle.
  */
object AvifCodec {

  import Bytes.{be16, be16b, be32, be32b, be64, be64b, boxAt, fourcc, u8}
  import Mp4Codec.{box, fullBox}

  private val MaxItems = 256
  private val MaxExtents = 64

  private val ImageBrands = Set("avif", "heic", "mif1")
  private val CodedTypes = Map("av01" -> "av1C", "hvc1" -> "hvcC")

  /** A digested HEIF image item: codec + ispe dimensions + the coded
    * payload's md5 — the fingerprint for exact cross-packager dedup. */
  final case class AvifItem(codec: String, width: Int, height: Int,
      itemFp: String)

  def decodeAvifDigest(b: Array[Byte]): Option[AvifItem] =
    try decode0(b)
    catch { case _: RuntimeException => None }

  /** All children of [from, until) in order — None unless they tile
    * the range EXACTLY (the drop-whole discipline: a truncated or
    * slack-padded master is malformed). */
  private def tiled(b: Array[Byte], from: Int,
      until: Int): Option[Vector[(String, Int, Int)]] = {
    val out = Vector.newBuilder[(String, Int, Int)]
    var p = from
    while (p < until) {
      val (s, e) = boxAt(b, p, until).getOrElse(return None)
      out += ((fourcc(b, p + 4), s, e))
      p = e
    }
    Some(out.result())
  }

  private def decode0(b: Array[Byte]): Option[AvifItem] = {
    if (b.length < 16) return None
    val top = tiled(b, 0, b.length).getOrElse(return None)
    if (top.isEmpty || top.head._1 != "ftyp") return None
    // brand gate: major or any compatible brand is a HEIF image brand
    val (_, fs, fe) = top.head
    if (fs + 8 > fe || (fe - fs) % 4 != 0) return None
    val brands = (fs until fe by 4).map(fourcc(b, _)).toSet - ""
    if (!brands.exists(br => ImageBrands.contains(br))) return None

    val (ms, me) = top.find(_._1 == "meta")
      .map { case (_, s, e) => (s, e) }.getOrElse(return None)
    if (ms + 4 > me) return None               // meta is a FullBox
    val kids = tiled(b, ms + 4, me).getOrElse(return None)
    def kid(t: String): Option[(Int, Int)] =
      kids.find(_._1 == t).map { case (_, s, e) => (s, e) }

    // hdlr: handler_type 'pict' (HEIF §6.2)
    val (hs, he) = kid("hdlr").getOrElse(return None)
    if (hs + 12 > he) return None
    if (fourcc(b, hs + 8) != "pict") return None

    // pitm: the primary item (v0: u16, v1: u32)
    val (ps, pe) = kid("pitm").getOrElse(return None)
    if (ps + 4 > pe) return None
    val primary = u8(b, ps) match {
      case 0 => if (ps + 6 > pe) return None else be16(b, ps + 4).toLong
      case 1 => if (ps + 8 > pe) return None else be32(b, ps + 4)
      case _ => return None
    }

    // iinf/infe: the primary item's coded type (protection must be 0)
    val (is, ie) = kid("iinf").getOrElse(return None)
    if (is + 4 > ie) return None
    val iinfV = u8(b, is)
    val (nItems, ip0) =
      if (iinfV == 0) { if (is + 6 > ie) return None
        (be16(b, is + 4).toLong, is + 6) }
      else { if (is + 8 > ie) return None; (be32(b, is + 4), is + 8) }
    if (nItems < 1 || nItems > MaxItems) return None
    val infes = tiled(b, ip0, ie).getOrElse(return None)
    if (infes.length != nItems || infes.exists(_._1 != "infe"))
      return None
    var codedType: String = null
    infes.foreach { case (_, s, e) =>
      if (s + 4 > e) return None
      val v = u8(b, s)
      if (v < 2) return None                   // pre-HEIF infe forms
      val (iid, q) =
        if (v == 2) { if (s + 6 > e) return None
          (be16(b, s + 4).toLong, s + 6) }
        else { if (s + 8 > e) return None; (be32(b, s + 4), s + 8) }
      if (q + 6 > e) return None
      if (iid == primary) {
        if (be16(b, q) != 0) return None       // item_protection_index
        codedType = fourcc(b, q + 2)
      }
    }
    if (codedType == null || !CodedTypes.contains(codedType))
      return None

    // iloc: resolve the primary item's extents (ISO 14496-12 §8.11.3)
    val (ls, le) = kid("iloc").getOrElse(return None)
    if (ls + 4 > le) return None
    val ilocV = u8(b, ls)
    if (ilocV > 2) return None
    var q = ls + 4
    if (q + 2 > le) return None
    val offSz = (u8(b, q) >> 4) & 0xf
    val lenSz = u8(b, q) & 0xf
    val baseSz = (u8(b, q + 1) >> 4) & 0xf
    val idxSz = if (ilocV >= 1) u8(b, q + 1) & 0xf else 0
    q += 2
    def okSz(s: Int) = s == 0 || s == 4 || s == 8
    if (!okSz(offSz) || !okSz(lenSz) || !okSz(baseSz) || !okSz(idxSz))
      return None
    val count =
      if (ilocV < 2) { if (q + 2 > le) return None
        val c = be16(b, q); q += 2; c.toLong }
      else { if (q + 4 > le) return None
        val c = be32(b, q); q += 4; c }
    if (count < 1 || count > MaxItems) return None
    def readN(n: Int): Long = {
      if (n == 0) return 0L
      if (q + n > le) throw new RuntimeException("iloc overrun")
      val v = if (n == 4) be32(b, q) else be64(b, q)
      q += n
      v
    }
    var extents: Vector[(Long, Long)] = null   // (offset, length)
    var method = 0
    val allItems = Vector.newBuilder[(Int, Vector[(Long, Long)])]
    var it = 0L
    while (it < count) {
      val iid =
        if (ilocV < 2) { if (q + 2 > le) return None
          val v = be16(b, q); q += 2; v.toLong }
        else { if (q + 4 > le) return None
          val v = be32(b, q); q += 4; v }
      val cm = if (ilocV >= 1) {
        if (q + 2 > le) return None
        val v = be16(b, q) & 0xf; q += 2; v
      } else 0
      if (q + 2 > le) return None
      q += 2                                   // data_reference_index
      val base = readN(baseSz)
      if (q + 2 > le) return None
      val nExt = be16(b, q); q += 2
      if (nExt < 1 || nExt > MaxExtents) return None
      val exts = Vector.newBuilder[(Long, Long)]
      var e = 0
      while (e < nExt) {
        readN(idxSz)                           // extent_index (unused)
        val off = readN(offSz)
        val len = readN(lenSz)
        exts += ((base + off, len))
        e += 1
      }
      allItems += ((cm, exts.result()))
      if (iid == primary) { extents = exts.result(); method = cm }
      it += 1
    }
    if (q != le) return None                   // iloc tiles exactly
    if (extents == null) return None
    if (method != 0 && method != 1) return None

    // the extent source: the file (method 0) or meta's idat (1)
    def source(cm: Int): Option[(Long, Long)] = cm match {
      case 0 => Some((0L, b.length.toLong))
      case 1 => kid("idat").map { case (ds, de) => (ds.toLong, de.toLong) }
      case _ => None
    }
    // EVERY declared item's extents must resolve in bounds, not just
    // the primary's — a sibling (Exif/thumbnail) iloc entry pointing
    // past the file is damage the drop-whole contract rejects
    allItems.result().foreach { case (cm, exts) =>
      val (f, u) = source(cm).getOrElse(return None)
      exts.foreach { case (off, len) =>
        if (len < 1) return None
        val s = f + off
        if (s < f || s + len > u) return None
      }
    }
    val (srcFrom, _) = source(method).getOrElse(return None)
    val md = java.security.MessageDigest.getInstance("MD5")
    var total = 0L
    extents.foreach { case (off, len) =>
      md.update(b, (srcFrom + off).toInt, len.toInt)
      total += len
    }
    if (total < 1) return None

    // iprp/ipco/ipma: the primary item must carry ispe + its codec's
    // config property (MIAF discipline)
    val (rs, re) = kid("iprp").getOrElse(return None)
    val props = tiled(b, rs, re).getOrElse(return None)
    val (cs, ce) = props.find(_._1 == "ipco")
      .map { case (_, s, e) => (s, e) }.getOrElse(return None)
    val ipco = tiled(b, cs, ce).getOrElse(return None)
    val (as0, ae) = props.find(_._1 == "ipma")
      .map { case (_, s, e) => (s, e) }.getOrElse(return None)
    if (as0 + 8 > ae) return None
    val av = u8(b, as0)
    val wideIdx = (be32(b, as0) & 1) != 0      // flags bit 0
    var aq = as0 + 4
    val nA = be32(b, aq); aq += 4
    if (nA < 1 || nA > MaxItems) return None
    var width = -1
    var height = -1
    var hasConfig = false
    var a = 0L
    while (a < nA) {
      val iid =
        if (av < 1) { if (aq + 2 > ae) return None
          val v = be16(b, aq); aq += 2; v.toLong }
        else { if (aq + 4 > ae) return None
          val v = be32(b, aq); aq += 4; v }
      if (aq + 1 > ae) return None
      val nAssoc = u8(b, aq); aq += 1
      var j = 0
      while (j < nAssoc) {
        val idx =
          if (wideIdx) { if (aq + 2 > ae) return None
            val v = be16(b, aq) & 0x7fff; aq += 2; v }
          else { if (aq + 1 > ae) return None
            val v = u8(b, aq) & 0x7f; aq += 1; v }
        if (iid == primary && idx >= 1) {
          if (idx > ipco.length) return None
          val (pt, ps2, pe2) = ipco(idx - 1)
          if (pt == "ispe") {
            if (ps2 + 12 > pe2) return None
            width = be32(b, ps2 + 4).toInt
            height = be32(b, ps2 + 8).toInt
          }
          if (pt == CodedTypes(codedType)) hasConfig = true
        }
        j += 1
      }
      a += 1
    }
    if (aq != ae) return None                  // ipma tiles exactly
    if (width < 1 || height < 1 || !hasConfig) return None

    Some(AvifItem(codedType, width, height,
      md.digest().map(x => f"${x & 0xff}%02x").mkString))
  }

  // ---- fixture encoder (planting + spec round-trips) ----

  /** The deterministic coded-item payload of a planted scene —
    * "{type}:{scene}:" + md5("{key}{scene}") dot-padded to 600 bytes
    * (room for a non-trivial extent split): pure md5 arithmetic the
    * DuckDB oracle recomputes verbatim. */
  private[multimodal] def itemPayload(scene: Long,
      heic: Boolean): Array[Byte] = {
    val (t, k) = if (heic) ("hvc1", "hvc") else ("av01", "img")
    val head = s"$t:$scene:" + Mp4Codec.md5Hex(s"$k$scene".getBytes("UTF-8"))
    (head + "." * (600 - head.length)).getBytes("US-ASCII")
  }

  private def fullBoxV(t: String, version: Int, flags: Int,
      p: Array[Byte]): Array[Byte] =
    box(t, be32b((version << 24) | (flags & 0xffffff)) ++ p)

  /** Encode a planted AVIF (or HEIC) still: `ftyp` + `meta`
    * (hdlr pict, pitm, iinf/infe, iloc, iprp with ispe + config and
    * a well-formed ipma) + the coded payload. `reBoxed` re-packages
    * the SAME payload — iloc v1 with construction_method 1 (the
    * payload inside meta's `idat`, split across TWO extents, 8-byte
    * offset/length fields), a `free` box, shuffled meta children, a
    * different ftyp major — without touching one digested byte.
    * `exifItem` adds a SECOND item (infe type `Exif` + its own iloc
    * extent into the mdat) — the image re-tag duplicate (exiftool
    * writes metadata as an item): the primary item's digest must not
    * move. */
  def encodeAvif(scene: Long, w: Int, h: Int, heic: Boolean = false,
      reBoxed: Boolean = false, exifItem: Boolean = false): Array[Byte] = {
    require(w >= 1 && h >= 1)
    require(!(reBoxed && exifItem), "one twin knob per fixture")
    val payload = itemPayload(scene, heic)
    val codec = if (heic) "hvc1" else "av01"
    val cfgType = if (heic) "hvcC" else "av1C"
    val brand = if (heic) "heic" else "avif"

    val hdlr = fullBox("hdlr", be32b(0) ++
      "pict".getBytes("US-ASCII") ++ Array.fill[Byte](12)(0) ++
      ((if (reBoxed) "graft reboxed" else "graft image")
        .getBytes("US-ASCII") :+ 0.toByte))
    val pitm = fullBox("pitm", be16b(1))
    val exif = (s"Exif  retag-of-$scene:" +
      Mp4Codec.md5Hex(s"x$scene".getBytes("UTF-8")))
      .getBytes("US-ASCII")
    val infe = fullBoxV("infe", 2, 0, be16b(1) ++ be16b(0) ++
      codec.getBytes("US-ASCII") ++ ("Image".getBytes("US-ASCII") :+
        0.toByte))
    val infe2 =
      if (!exifItem) Array.emptyByteArray
      else fullBoxV("infe", 2, 0, be16b(2) ++ be16b(0) ++
        "Exif".getBytes("US-ASCII") ++ ("Meta".getBytes("US-ASCII") :+
          0.toByte))
    val iinf = fullBox("iinf",
      be16b(if (exifItem) 2 else 1) ++ infe ++ infe2)
    val ispe = fullBox("ispe", be32b(w) ++ be32b(h))
    // a structurally-present codec config property (the digest
    // contract does not parse inside it)
    val cfg = box(cfgType,
      Array[Byte](0x81.toByte, 0x0c, 0x00, 0x00))
    val ipco = box("ipco", ispe ++ cfg)
    // ipma: item 1 → property 1 (ispe), property 2 (config,
    // essential)
    val ipma = fullBox("ipma", be32b(1) ++ be16b(1) ++
      Array[Byte](2, 0x01, 0x82.toByte))
    val iprp = box("iprp", ipco ++ ipma)

    val ftyp = box("ftyp", brand.getBytes("US-ASCII") ++ be32b(0) ++
      (if (reBoxed) "mif1miafavif" else s"${brand}mif1miaf")
        .getBytes("US-ASCII"))

    if (!reBoxed) {
      // iloc v0: file-offset extents into the trailing mdat (the
      // Exif item, when planted, follows the coded payload there)
      def iloc(off: Int) = fullBox("iloc",
        Array[Byte](0x44, 0x00) ++
          be16b(if (exifItem) 2 else 1) ++
          (be16b(1) ++ be16b(0) ++ be16b(1) ++
            be32b(off) ++ be32b(payload.length)) ++
          (if (!exifItem) Array.emptyByteArray
           else be16b(2) ++ be16b(0) ++ be16b(1) ++
             be32b(off + payload.length) ++ be32b(exif.length)))
      val metaFor = (off: Int) => fullBox("meta",
        hdlr ++ pitm ++ iinf ++ iloc(off) ++ iprp)
      val sz = ftyp.length + metaFor(0).length + 8
      ftyp ++ metaFor(sz) ++ box("mdat",
        if (exifItem) payload ++ exif else payload)
    } else {
      // iloc v1, construction_method 1: TWO idat-relative extents
      // with 8-byte fields; iinf precedes pitm (legal order), a free
      // box pads the top level
      val split = 100
      val iloc = fullBoxV("iloc", 1, 0,
        Array[Byte](0x88.toByte, 0x00) ++ be16b(1) ++
          be16b(1) ++ be16b(1) ++ be16b(0) ++ be16b(2) ++
          be64b(0L) ++ be64b(split.toLong) ++
          be64b(split.toLong) ++ be64b((payload.length - split).toLong))
      val idat = box("idat", payload)
      val meta = fullBox("meta",
        hdlr ++ iinf ++ pitm ++ iloc ++ idat ++ iprp)
      ftyp ++ box("free", "pad!".getBytes("US-ASCII")) ++ meta
    }
  }
}
