package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

/** The real source side of the multimodal tier: binaryFile ingestion
  * (path-parsed ids/types, byte-faithful payloads, nonconforming files
  * dropped) and payload-identity media dedup. */
class MultimodalSpec extends AnyFunSuite {
  import TestSpark._

  private def plant(files: (String, String)*): String = {
    val dir = TestSpark.tempDir("mm_fixture").toString
    files.foreach { case (name, content) =>
      Files.write(Paths.get(s"$dir/$name"), content.getBytes("UTF-8"))
    }
    dir
  }

  test("ingestBinary: ids and types from the path, bytes untouched") {
    val dir = plant(
      "asset_1.img" -> "image-bytes",
      "asset_3.mp4" -> "video-bytes",
      "asset_5.wav" -> "audio-bytes",
      "README.txt" -> "not an asset",       // nonconforming name
      "asset_7.xyz" -> "unknown extension") // unmapped type
    val out = Multimodal.ingestBinary(spark, dir).collect()
      .map(a => a.asset_id -> (a.media_type, new String(a.payload, "UTF-8")))
      .toMap
    assert(out === Map(
      1L -> ("image", "image-bytes"),
      3L -> ("video", "video-bytes"),
      5L -> ("audio", "audio-bytes")))
  }

  test("HeaderDecoder: PNG/JPEG/GIF dims round-trip through MediaHeaders") {
    import Multimodal.{HeaderDecoder, MediaHeaders}
    for ((w, h) <- Seq((1, 1), (640, 480), (65535, 1), (1920, 1080))) {
      assert(HeaderDecoder.pngDims(MediaHeaders.png(w, h)) === Some((w, h)))
      if (w <= 65535 && h <= 65535) {
        assert(HeaderDecoder.jpegDims(MediaHeaders.jpeg(w, h)) === Some((w, h)))
        assert(HeaderDecoder.gifDims(MediaHeaders.gif(w, h)) === Some((w, h)))
      }
    }
    assert(MediaHeaders.png(640, 480).length ===
      Multimodal.MediaHeaders.PngHeaderLen)
    assert(MediaHeaders.jpeg(640, 480).length ===
      Multimodal.MediaHeaders.JpegHeaderLen)
  }

  test("HeaderDecoder: JPEG walker skips non-SOF segments, rejects SOS-first") {
    import Multimodal.{HeaderDecoder, MediaHeaders}
    // real-world shape: SOI + APP0 + COM + SOF0 — dims found past COM
    val com = Array(0xff, 0xfe, 0x00, 0x07).map(_.toByte) ++
      "hello".getBytes("US-ASCII")
    val jpeg = MediaHeaders.jpeg(321, 123)
    val withCom = jpeg.take(20) ++ com ++ jpeg.drop(20)   // APP0 is 2+18=20
    assert(HeaderDecoder.jpegDims(withCom) === Some((321, 123)))
    // SOS before any SOF: no dims (never scan entropy-coded data)
    val sosFirst = Array(0xff, 0xd8, 0xff, 0xda, 0x00, 0x04, 0, 0)
      .map(_.toByte)
    assert(HeaderDecoder.jpegDims(sosFirst) === None)
  }

  test("HeaderDecoder: hostile bytes never throw, unknown falls back to stub") {
    import Multimodal.{HeaderDecoder, MediaAsset}
    val hostile = Seq(
      Array.empty[Byte],
      Array[Byte](-1, -40),                          // bare SOI
      Array[Byte](-119, 'P', 'N', 'G'),              // truncated signature
      Multimodal.MediaHeaders.png(9, 9).take(20),    // truncated IHDR
      Multimodal.MediaHeaders.jpeg(9, 9).take(7),    // truncated APP0
      Array.fill[Byte](64)(-1))                      // FF padding run
    hostile.foreach { b =>
      assert(HeaderDecoder.imageDims(b) === None)
      // falls through to the stub's length arithmetic
      val meta = HeaderDecoder.decode(MediaAsset(7L, "image", b))
      assert(meta === Multimodal.StubDecoder.decode(MediaAsset(7L, "image", b)))
    }
    // text bytes (the fake video blobs) also fall through
    val txt = "no image header here".getBytes("UTF-8")
    assert(HeaderDecoder.imageDims(txt) === None)
  }

  test("decodeMeta e2e: planted image files yield header dims via binaryFile") {
    import Multimodal.MediaHeaders
    val dir = TestSpark.tempDir("mm_img").toString
    Files.write(Paths.get(s"$dir/asset_10.png"),
      MediaHeaders.png(101, 44) ++ "tail".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/asset_11.jpg"),
      MediaHeaders.jpeg(7, 9000))
    Files.write(Paths.get(s"$dir/asset_12.gif"), MediaHeaders.gif(13, 37))
    val out = Multimodal.decodeMeta(Multimodal.ingestBinary(spark, dir))
      .collect().map(m => m.asset_id ->
        (m.media_type, m.n_bytes, m.width, m.height)).toMap
    assert(out === Map(
      10L -> ("image", 37, 101, 44),
      11L -> ("image", 39, 7, 9000),
      12L -> ("image", 13, 13, 37)))
  }

  test("AvHeaderDecoder: WAV/MP4 metadata round-trips through MediaHeaders") {
    import Multimodal.{AvHeaderDecoder, MediaHeaders}
    for ((sr, ch, dl) <- Seq((8000, 1, 16000), (44100, 2, 441000),
        (24000, 2, 0), (16000, 1, 7))) {
      val bytes = MediaHeaders.wav(sr, ch, dl) ++ Array.fill[Byte](dl)(1)
      assert(AvHeaderDecoder.wavMeta(bytes) ===
        Some((sr, ch, dl.toLong * 1000 / (sr * ch * 2))))
    }
    assert(MediaHeaders.wav(8000, 1, 0).length ===
      MediaHeaders.WavHeaderLen)
    for ((ts, ticks) <- Seq((600, 1200), (1000, 98765), (90000, 90000)))
      assert(AvHeaderDecoder.mp4DurationMs(MediaHeaders.mp4(ts, ticks)) ===
        Some(ticks.toLong * 1000 / ts))
    assert(MediaHeaders.mp4(600, 600).length === MediaHeaders.Mp4HeaderLen)
  }

  test("AvHeaderDecoder: RIFF walker skips LIST chunks; hostile bytes never throw") {
    import Multimodal.{AvHeaderDecoder, MediaAsset, MediaHeaders}
    // a LIST/INFO chunk between WAVE and fmt  — real encoders emit this
    val wav = MediaHeaders.wav(22050, 2, 100)
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](10, 0, 0, 0) ++ "INFOxxxxxx".getBytes("US-ASCII")
    val withList = wav.take(12) ++ list ++ wav.drop(12)
    assert(AvHeaderDecoder.wavMeta(withList) ===
      Some((22050, 2, 100L * 1000 / (22050 * 2 * 2))))
    val hostile = Seq(
      Array.empty[Byte],
      "RIFF".getBytes("US-ASCII"),                    // truncated
      MediaHeaders.wav(8000, 1, 50).take(20),         // truncated fmt
      MediaHeaders.mp4(600, 600).take(18),            // truncated moov
      Array.fill[Byte](64)(-1))
    hostile.foreach { b =>
      assert(AvHeaderDecoder.wavMeta(b) === None)
      assert(AvHeaderDecoder.mp4DurationMs(b) === None)
      val meta = AvHeaderDecoder.decode(MediaAsset(7L, "audio", b))
      assert(meta.duration_ms === b.length.toLong % 60000) // stub seam
    }
  }

  test("decodeAv e2e: planted WAV/MP4 files yield container metadata via binaryFile") {
    import Multimodal.MediaHeaders
    val dir = TestSpark.tempDir("mm_av").toString
    Files.write(Paths.get(s"$dir/asset_20.wav"),
      MediaHeaders.wav(16000, 2, 4) ++ "tail".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/asset_21.mp4"),
      MediaHeaders.mp4(600, 3000) ++ "x".getBytes("UTF-8"))
    val out = Multimodal.decodeAv(Multimodal.ingestBinary(spark, dir))
      .collect().map(m => m.asset_id ->
        (m.media_type, m.n_bytes, m.sample_rate, m.channels,
          m.duration_ms)).toMap
    assert(out === Map(
      20L -> ("audio", 48, 16000, 2, 0L),   // 4 bytes / 64000 B·s⁻¹ → 0 ms
      21L -> ("video", 133, 0, 0, 5000L)))  // 3000 ticks @ 600 Hz
  }

  test("dedupExactMedia: identical payloads group across media types") {
    val dir = plant(
      "asset_2.img" -> "same-bytes",
      "asset_4.wav" -> "same-bytes",   // cross-type exact copy
      "asset_6.img" -> "other-bytes")
    val out = Multimodal.dedupExactMedia(
        Multimodal.ingestBinary(spark, dir))
      .orderBy("canonical_id").collect()
      .map(r => (r.getAs[Long]("canonical_id"), r.getAs[Long]("n_copies"),
        r.getAs[String]("member_ids")))
    assert(out.toSeq === Seq((2L, 2L, "2,4"), (6L, 1L, "6")))
  }
}
