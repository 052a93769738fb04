package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{Multimodal, PixelCodec}
import graft.multimodal.PixelCodec.Gray

/** The perceptual-hash tier: REAL pixel decode (8-bit PNG in gray/RGB/
  * palette/RGBA via JDK inflate + bpp-aware filter reversal, 24-bit
  * BMP), the exact bin-partition 8×8 downsample at any dimensions,
  * 64-bit dHash, and the byte-distinct/pixel-near dedup property the
  * whole tier exists for. */
class PixelCodecSpec extends AnyFunSuite {
  import TestSpark._

  // deterministic pseudo-random pixels (no Random: repeatable)
  private def noisy(w: Int, h: Int, seed: Int): Gray =
    Gray(w, h, Array.tabulate(w * h)(i =>
      (i * 2654435761L + seed * 40503L).toInt & 0xff))

  test("PNG round-trip: every filter type 0-4 reverses to the same pixels") {
    for (f <- 0 to 4; (w, h) <- Seq((8, 8), (16, 24), (1, 1), (7, 3))) {
      val img = noisy(w, h, f)
      val decoded = PixelCodec.decodePng(
        PixelCodec.encodeGray8Png(img, filterType = f))
      assert(decoded.isDefined, s"filter $f ${w}x$h")
      assert(decoded.get.width === w && decoded.get.height === h)
      assert(decoded.get.luma.toSeq === img.luma.toSeq, s"filter $f ${w}x$h")
    }
  }

  test("16-bit grayscale round-trips exactly via the high-byte decode") {
    // v*257 samples make the high-byte truncation exact; filters are
    // byte-wise at bpp 2, so every filter type must reverse cleanly
    for (f <- 0 to 4; (w, h) <- Seq((8, 8), (7, 3), (16, 24))) {
      val img = noisy(w, h, f + 11)
      val enc = PixelCodec.encodeGray16Png(img, filterType = f)
      val dec = PixelCodec.decodePng(enc)
      assert(dec.isDefined, s"filter $f ${w}x$h")
      assert(dec.get.luma.toSeq === img.luma.toSeq, s"filter $f ${w}x$h")
      // byte-distinct from the 8-bit encoding, pixel-identical
      assert(!enc.sameElements(PixelCodec.encodeGray8Png(img)))
    }
  }

  test("Adam7 interlace round-trips at odd dimensions, gray and RGB") {
    // dimensions chosen so passes have distinct sizes and some edge
    // passes go empty (w or h < the pass offset): 1x1 keeps only
    // pass 1; 5x3 drops passes with xStart/yStart past the edge
    for ((w, h) <- Seq((8, 8), (9, 9), (17, 10), (64, 64), (31, 37),
        (1, 1), (5, 3), (8, 1), (1, 16))) {
      val img = noisy(w, h, w * 31 + h)
      val enc = PixelCodec.encodeAdam7Png(img)
      val dec = PixelCodec.decodePng(enc)
      assert(dec.isDefined, s"${w}x$h")
      assert(dec.get.width === w && dec.get.height === h)
      assert(dec.get.luma.toSeq === img.luma.toSeq, s"${w}x$h")
      // byte-distinct from every sequential filter encoding
      for (f <- 0 to 4)
        assert(!enc.sameElements(PixelCodec.encodeGray8Png(img, f)))
      // RGB interlaced: per-pass filters at bpp 3, exact luma
      val rgb = PixelCodec.decodePng(
        PixelCodec.encodeAdam7Png(img, rgbSalt = Some(w % 11)))
      assert(rgb.isDefined, s"rgb ${w}x$h")
      assert(rgb.get.luma.toSeq === img.luma.toSeq, s"rgb ${w}x$h")
    }
    // interlaced and sequential renderings of one scene hash equal
    val scene = PixelCodec.renderGridSized(
      PixelCodec.sceneGrid(909L), 52, 45)
    assert(PixelCodec.phash(PixelCodec.encodeAdam7Png(scene)).get ===
      PixelCodec.phash(PixelCodec.encodeGray8Png(scene)).get)
    // truncation anywhere in an interlaced stream never throws
    val enc = PixelCodec.encodeAdam7Png(noisy(17, 10, 4))
    for (n <- 0 until enc.length)
      assert(PixelCodec.decodePng(enc.take(n)).isEmpty, s"take($n)")
  }

  test("sub-byte depths (1/2/4-bit gray + palette) round-trip, sequential and Adam7") {
    for (depth <- Seq(1, 2, 4); (w, h) <- Seq((8, 8), (17, 9), (9, 13));
         il <- Seq(false, true)) {
      val scale = 255 / ((1 << depth) - 1)
      // gray values on the exact sub-byte grid
      val img = Gray(w, h, Array.tabulate(w * h)(i =>
        ((i * 2654435761L).toInt & ((1 << depth) - 1)) * scale))
      val enc = PixelCodec.encodeSubBytePng(img, depth,
        interlaced = il, filterType = depth % 5)
      val dec = PixelCodec.decodePng(enc)
      assert(dec.isDefined, s"gray d=$depth ${w}x$h il=$il")
      assert(dec.get.luma.toSeq === img.luma.toSeq,
        s"gray d=$depth ${w}x$h il=$il")
      // palette at the same depth: arbitrary lumas, <= 2^depth distinct
      val vals = Array.tabulate(1 << depth)(k => (k * 37 + 11) % 256)
      val pimg = Gray(w, h, Array.tabulate(w * h)(i =>
        vals((i * 7 + i / w) % vals.length)))
      val pdec = PixelCodec.decodePng(PixelCodec.encodeSubBytePng(
        pimg, depth, palette = true, interlaced = il))
      assert(pdec.isDefined, s"plte d=$depth ${w}x$h il=$il")
      assert(pdec.get.luma.toSeq === pimg.luma.toSeq,
        s"plte d=$depth ${w}x$h il=$il")
    }
    // truncation never throws
    val enc = PixelCodec.encodeSubBytePng(
      Gray(16, 16, Array.tabulate(256)(i => (i % 16) * 17)), 4,
      interlaced = true)
    for (n <- 0 until enc.length)
      assert(PixelCodec.decodePng(enc.take(n)).isEmpty, s"take($n)")
  }

  test("color modes decode to exact luma: RGB every filter, RGBA, palette") {
    val img = noisy(16, 24, 3)
    for (f <- 0 to 4) {
      val rgb = PixelCodec.decodePng(
        PixelCodec.encodeRgbPng(img, salt = f, filterType = f))
      assert(rgb.isDefined, s"rgb filter $f")
      assert(rgb.get.luma.toSeq === img.luma.toSeq, s"rgb filter $f")
    }
    assert(PixelCodec.decodePng(PixelCodec.encodeRgbaPng(img, 5)).get
      .luma.toSeq === img.luma.toSeq)
    assert(PixelCodec.decodePng(PixelCodec.encodePalettePng(img)).get
      .luma.toSeq === img.luma.toSeq)
    // colorize really colors (byte-distinct channels) yet luma is exact
    for (v <- 0 until 256; salt <- 0 to 3) {
      val (r, g, b) = PixelCodec.colorize(v, salt)
      assert(PixelCodec.lum(r, g, b) === v, s"v=$v salt=$salt")
    }
    assert((0 until 256).exists { v =>
      val (r, g, b) = PixelCodec.colorize(v, 1); r != g || g != b
    })
  }

  test("PNG ancillary chunks are skipped; BMP round-trips incl. row padding") {
    val img = noisy(16, 8, 1)
    val withText = PixelCodec.encodeGray8Png(img, 0, Some("metadata here"))
    val plain = PixelCodec.encodeGray8Png(img, 0, None)
    assert(!withText.sameElements(plain))          // byte-distinct
    assert(PixelCodec.decodePng(withText).get.luma.toSeq ===
      img.luma.toSeq)                              // pixel-identical
    // width 6: stride 18 pads to 20 — the padding path
    for ((w, h) <- Seq((6, 4), (8, 8), (1, 1))) {
      val b = noisy(w, h, 9)
      assert(PixelCodec.decodeBmp24(PixelCodec.encodeBmp24(b)).get
        .luma.toSeq === b.luma.toSeq)
    }
  }

  test("lumaGrid8: exact box average on divisible dims; bin partition on any dims") {
    // 16x16 image built from a known 8x8 grid: downsample recovers it
    val grid = Array.tabulate(64)(i => (i * 37) % 256)
    val img = PixelCodec.renderGrid(grid, 16)
    assert(PixelCodec.lumaGrid8(img).get.toSeq === grid.toSeq)
    // non-constant tiles: floor of the true mean — 16x16 checkerboard,
    // each 2x2 tile holds {10,13,13,10} → floor(46/4) = 11
    val mixed = Gray(16, 16,
      Array.tabulate(256)(i => if ((i / 16 + i % 16) % 2 == 0) 10 else 13))
    assert(PixelCodec.lumaGrid8(mixed).get.forall(_ == 11))
    // NON-divisible dims: renderGridSized colors by the same bin rule
    // lumaGrid8 partitions by, so recovery is exact at any size ≥ 8
    for ((w, h) <- Seq((12, 8), (44, 52), (9, 23), (8, 100), (101, 8))) {
      val odd = PixelCodec.renderGridSized(grid, w, h)
      assert(PixelCodec.lumaGrid8(odd).get.toSeq === grid.toSeq,
        s"${w}x$h")
    }
    // sub-8 dims carry no 64-cell signature
    assert(PixelCodec.lumaGrid8(noisy(7, 8, 0)).isEmpty)
    assert(PixelCodec.lumaGrid8(noisy(8, 7, 0)).isEmpty)
    assert(PixelCodec.phash(
      PixelCodec.encodeGray8Png(noisy(7, 3, 0))).isEmpty)
  }

  test("dhash64: gradient signs with bx 7->0 wraparound") {
    // strictly increasing rows: bits 0..6 of each row set, bit 7 clear
    // (wraparound compares col 0 against col 7: 0 < 7·step)
    val inc = Array.tabulate(64)(i => (i % 8) * 10)
    val h = PixelCodec.dhash64(inc)
    for (row <- 0 until 8; bx <- 0 until 8) {
      val bit = (h >> (row * 8 + bx)) & 1
      assert(bit === (if (bx < 7) 1L else 0L), s"row $row bx $bx")
    }
  }

  test("byte-distinct pixel-equivalent variants hash identically; perturbed within 2 bits") {
    val grid = PixelCodec.sceneGrid(4242L)
    val original = PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64))
    val resized = PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 32))
    val reenc = PixelCodec.encodeGray8Png(PixelCodec.renderGrid(grid, 64),
      filterType = 2, textChunk = Some("re-encoded"))
    val bmp = PixelCodec.encodeBmp24(PixelCodec.renderGrid(grid, 64))
    val rgb = PixelCodec.encodeRgbPng(PixelCodec.renderGrid(grid, 64),
      salt = 2, filterType = 1)
    val rgba = PixelCodec.encodeRgbaPng(PixelCodec.renderGrid(grid, 32), 3)
    val pal = PixelCodec.encodePalettePng(PixelCodec.renderGrid(grid, 64))
    val odd = PixelCodec.encodeGray8Png(
      PixelCodec.renderGridSized(grid, 44, 52))
    val oddRgb = PixelCodec.encodeRgbPng(
      PixelCodec.renderGridSized(grid, 23, 65), salt = 4)
    val variants = Seq(resized, reenc, bmp, rgb, rgba, pal, odd, oddRgb)
    assert(variants.forall(v => !v.sameElements(original))) // bytes differ
    val h0 = PixelCodec.phash(original).get
    variants.foreach(v => assert(PixelCodec.phash(v).get === h0))
    // perturbing one grid cell moves at most the 2 adjacent gradients
    val pert = grid.clone(); pert(4 * 8 + 3) = (pert(4 * 8 + 3) + 16) % 256
    val hp = PixelCodec.phash(
      PixelCodec.encodeGray8Png(PixelCodec.renderGrid(pert, 64))).get
    assert(java.lang.Long.bitCount(h0 ^ hp) <= 2)
    // a different scene is far away (md5 mixing: expected distance 32)
    val other = PixelCodec.phash(PixelCodec.encodeGray8Png(
      PixelCodec.renderGrid(PixelCodec.sceneGrid(4243L), 64))).get
    assert(java.lang.Long.bitCount(h0 ^ other) > 8)
  }

  // minimal chunk assembly for hostile-PNG crafting (the encoder's
  // private helper, re-derived so tests can build INVALID streams)
  private def rawChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val td = typ.getBytes("US-ASCII") ++ data
    val crc = new java.util.zip.CRC32; crc.update(td)
    def be32(v: Int) = Array((v >>> 24).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    be32(data.length) ++ td ++ be32(crc.getValue.toInt)
  }
  private val pngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  test("hostile inputs never throw and decode to None") {
    val good = PixelCodec.encodeGray8Png(noisy(8, 8, 2))
    val goodBmp = PixelCodec.encodeBmp24(noisy(8, 8, 2))
    def ihdr(depth: Int, color: Int, interlace: Int) = rawChunk("IHDR",
      Array[Byte](0, 0, 0, 8, 0, 0, 0, 8,
        depth.toByte, color.toByte, 0, 0, interlace.toByte))
    val hostile = Seq[Array[Byte]](
      Array.empty,
      good.take(20),                         // truncated mid-IHDR
      good.take(good.length - 15),           // IEND missing
      good.updated(40, 0x7f.toByte),         // corrupt deflate stream
      goodBmp.take(30),                      // truncated BMP header
      goodBmp.updated(28, 8.toByte),         // 8 bpp BMP: unsupported
      // zlib FDICT flag set: inflate yields 0 with needsDictionary —
      // must reject, not spin (0x78 0x20 passes the %31 header check)
      pngSig ++ ihdr(8, 0, 0) ++ rawChunk("IDAT",
        Array(0x78, 0x20, 1, 2, 3, 4, 5, 6, 7, 8).map(_.toByte)) ++
        rawChunk("IEND", Array.emptyByteArray),
      // 16-bit with truncated data: rejected as malformed (the mode
      // itself is supported); 16-bit palette and interlaced: rejected
      pngSig ++ ihdr(16, 0, 0) ++ rawChunk("IDAT", Array[Byte](1, 2)) ++
        rawChunk("IEND", Array.emptyByteArray),
      pngSig ++ ihdr(16, 3, 0) ++ rawChunk("IDAT", Array[Byte](1, 2)) ++
        rawChunk("IEND", Array.emptyByteArray),
      pngSig ++ ihdr(8, 0, 1) ++ rawChunk("IDAT", Array[Byte](1, 2)) ++
        rawChunk("IEND", Array.emptyByteArray),
      // palette mode with no PLTE chunk
      pngSig ++ ihdr(8, 3, 0) ++ rawChunk("IDAT", Array[Byte](1, 2)) ++
        rawChunk("IEND", Array.emptyByteArray),
      Array.fill[Byte](128)(-1))
    hostile.foreach(b => assert(PixelCodec.phash(b).isEmpty))
    // an RGB header followed by non-chunk garbage: malformed, not wrong
    val rgbJunk = Multimodal.MediaHeaders.png(8, 8) ++
      Array.fill[Byte](64)(3)
    assert(PixelCodec.decodePng(rgbJunk).isEmpty)
    // palette with out-of-range index: 1-entry palette, index byte 5
    val deflated = {
      val d = new java.util.zip.Deflater()
      // 8x8 rows of filter 0 + index byte 5
      val raw = Array.tabulate(72)(i => if (i % 9 == 0) 0 else 5)
        .map(_.toByte)
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](256)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val badIdx = pngSig ++ ihdr(8, 3, 0) ++
      rawChunk("PLTE", Array[Byte](10, 20, 30)) ++
      rawChunk("IDAT", deflated) ++ rawChunk("IEND", Array.emptyByteArray)
    assert(PixelCodec.decodePng(badIdx).isEmpty)
  }

  test("a chunk length near 2^31 decodes to None instead of wrapping past the bounds check") {
    val probe = pngSig ++ Array[Byte](0x7f, -1, -1, -16) ++
      "IDAT".getBytes("US-ASCII") ++ new Array[Byte](40)
    assert(PixelCodec.decodePng(probe).isEmpty)
    assert(PixelCodec.phash(probe).isEmpty)
  }

  test("nearDupClusters e2e (image): re-encoded/resized/color/BMP copies cluster") {
    val dir = TestSpark.tempDir("mm_pxl_spec").toString
    def put(name: String, b: Array[Byte]): Unit =
      Files.write(Paths.get(s"$dir/$name"), b)
    val g1 = PixelCodec.sceneGrid(1L)
    val g2 = PixelCodec.sceneGrid(2L)
    put("asset_1.png", PixelCodec.encodeGray8Png(PixelCodec.renderGrid(g1, 64)))
    put("asset_2.png", PixelCodec.encodeGray8Png(PixelCodec.renderGrid(g1, 32)))
    put("asset_3.png", PixelCodec.encodeGray8Png(
      PixelCodec.renderGrid(g1, 64), filterType = 4, textChunk = Some("x")))
    put("asset_4.bmp", PixelCodec.encodeBmp24(PixelCodec.renderGrid(g1, 64)))
    put("asset_5.png", PixelCodec.encodeGray8Png(PixelCodec.renderGrid(g2, 64)))
    put("asset_6.png", PixelCodec.encodeRgbPng(
      PixelCodec.renderGridSized(g2, 44, 52), salt = 1))
    put("asset_7.png", PixelCodec.encodeGray8Png(
      PixelCodec.renderGrid(PixelCodec.sceneGrid(3L), 64))) // singleton scene
    put("asset_8.wav", Multimodal.MediaHeaders.wav(8000, 1, 4) ++
      Array.fill[Byte](4)(0))                               // non-image: dropped
    val out = Multimodal.nearDupClusters(Multimodal.fingerprints(
        Multimodal.ingestBinary(spark, dir), Multimodal.imageFp))
      .orderBy("canonical_id").collect()
      .map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_members"),
        r.getAs[String]("member_ids")))
    assert(out.toSeq === Seq((1L, 4L, "1,2,3,4"), (5L, 2L, "5,6")))
  }
}
